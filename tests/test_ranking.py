"""TF-IDF and BM25 golden tests on tiny hand-checkable corpora."""

from __future__ import annotations

import math

import pytest

from flight_delays_progetto_big_data_2024_spark.operators.ranking import (
    bm25_search,
    term_frequencies,
    tfidf,
    tfidf_topk_terms,
)

CORPUS = [
    (1, "apple banana apple"),
    (2, "banana cherry"),
    (3, "cherry cherry durian"),
    (4, "   "),  # token-less: contributes to N but emits no terms
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def test_term_frequencies_counts_occurrences(spark, docs):
    got = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in term_frequencies(docs).collect()
    }
    assert got == {
        (1, "apple"): 2,
        (1, "banana"): 1,
        (2, "banana"): 1,
        (2, "cherry"): 1,
        (3, "cherry"): 2,
        (3, "durian"): 1,
    }


def test_tfidf_golden_values(spark, docs):
    # N=4; df: apple 1, banana 2, cherry 2, durian 1
    got = {
        (r["doc_id"], r["term"]): r["tfidf"] for r in tfidf(docs).collect()
    }
    assert got[(1, "apple")] == pytest.approx(2 * math.log(4), abs=1e-9)
    assert got[(1, "banana")] == pytest.approx(math.log(2), abs=1e-9)
    assert got[(3, "cherry")] == pytest.approx(2 * math.log(2), abs=1e-9)
    assert got[(3, "durian")] == pytest.approx(math.log(4), abs=1e-9)
    assert len(got) == 6  # doc 4 emits nothing


def test_tfidf_topk_rank_order_and_tiebreak(spark, docs):
    rows = tfidf_topk_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"]))
    # doc 1: apple (2·ln4) beats banana (ln2)
    assert sorted(by_doc[1]) == [(1, "apple"), (2, "banana")]
    # doc 2: banana and cherry tie exactly (tf=1, df=2) -> term asc
    assert sorted(by_doc[2]) == [(1, "banana"), (2, "cherry")]
    # doc 3: cherry (2·ln2) beats durian (ln4) ONLY by tiebreak — the
    # weights are mathematically equal, so rounding must make them tie
    # and 'cherry' < 'durian' decides
    assert sorted(by_doc[3]) == [(1, "cherry"), (2, "durian")]
    assert 4 not in by_doc


def _bm25_expected(corpus, query, k1=1.2, b=0.75):
    toks = {i: t.split() for i, t in corpus}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {
        q: sum(1 for t in toks.values() if q in t)
        for q in query
    }
    scores = {}
    for i, t in toks.items():
        s = 0.0
        for q in query:
            tf = t.count(q)
            if tf == 0:
                continue
            idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        if s > 0:
            scores[i] = round(s, 6)
    return scores


def test_bm25_golden_scores(spark, docs):
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_search(docs, ["cherry", "durian"]).collect()
    }
    want = _bm25_expected(CORPUS, ["cherry", "durian"])
    assert set(got) == set(want) == {2, 3}
    for doc_id, score in want.items():
        assert got[doc_id] == pytest.approx(score, abs=1e-6)
    # doc 3 has both terms (one twice) -> must outrank doc 2
    assert got[3] > got[2]


def test_bm25_absent_term_empty_result(spark, docs):
    assert bm25_search(docs, ["mango"]).count() == 0


def test_bm25_duplicate_query_terms_bag_semantics(spark, docs):
    # a term repeated in the query doubles its contribution (matches
    # _bm25_expected, which sums per query position)
    once = {
        r["doc_id"]: r["bm25"]
        for r in bm25_search(docs, ["cherry"]).collect()
    }
    twice = {
        r["doc_id"]: r["bm25"]
        for r in bm25_search(docs, ["cherry", "cherry"]).collect()
    }
    want = _bm25_expected(CORPUS, ["cherry", "cherry"])
    assert set(twice) == set(want)
    for doc_id, score in want.items():
        assert twice[doc_id] == pytest.approx(score, abs=1e-6)
        assert twice[doc_id] == pytest.approx(2 * once[doc_id], abs=2e-6)


def test_bm25_null_id_doc_counts_toward_df_but_is_not_scored(spark):
    """A NULL-id document is still part of the corpus (N, avgdl and the
    df of its terms) but has no key to be returned under."""
    corpus = CORPUS + [(None, "cherry fig")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_search(docs, ["cherry", "fig"]).collect()
    }
    want = _bm25_expected(corpus, ["cherry", "fig"])
    del want[None]
    assert set(got) == set(want) == {2, 3}
    for doc_id, score in want.items():
        assert got[doc_id] == pytest.approx(score, abs=1e-6)


def test_pmi_golden_values(spark):
    from flight_delays_progetto_big_data_2024_spark.operators.ranking import (
        pmi_pairs,
    )

    # 4 docs; (a,b) always together, (a,c) independent-ish, d rare
    corpus = spark.createDataFrame(
        [
            (1, "a b"),
            (2, "a b c"),
            (3, "c d a"),
            (4, "c"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["t1"], r["t2"]): (r["c12"], r["pmi"])
        for r in pmi_pairs(corpus, min_df=1, k=100).collect()
    }
    # df: a=3 b=2 c=3 d=1 ; N=4
    assert got[("a", "b")] == (2, pytest.approx(round(math.log(2 * 4 / (3 * 2)), 6)))
    assert got[("a", "c")] == (2, pytest.approx(round(math.log(2 * 4 / (3 * 3)), 6)))
    assert got[("a", "d")] == (1, pytest.approx(round(math.log(1 * 4 / (3 * 1)), 6)))
    assert got[("c", "d")] == (1, pytest.approx(round(math.log(1 * 4 / (3 * 1)), 6)))
    assert got[("b", "c")] == (1, pytest.approx(round(math.log(1 * 4 / (2 * 3)), 6)))
    assert len(got) == 5  # no (b,d): never co-occur


def test_pmi_min_df_prunes_before_expansion(spark):
    from flight_delays_progetto_big_data_2024_spark.operators.ranking import (
        pmi_pairs,
    )

    corpus = spark.createDataFrame(
        [(1, "a b rare1"), (2, "a b rare2"), (3, "a b")],
        ["doc_id", "text"],
    )
    got = {
        (r["t1"], r["t2"]) for r in pmi_pairs(corpus, min_df=2, k=100).collect()
    }
    assert got == {("a", "b")}


def test_heavy_hitters_exact_on_skewed_stream(spark):
    """MG candidate generation + exact recount must equal brute force on
    a zipf-ish corpus where the tail is much larger than 1/phi — the
    regime the two-pass plan exists for."""
    from collections import Counter

    from flight_delays_progetto_big_data_2024_spark.operators.ranking import (
        heavy_hitter_terms,
    )

    # 3 hot terms + 400 singleton tail terms, spread over several docs
    words = (
        ["hot"] * 300 + ["warm"] * 120 + ["mild"] * 60 + [f"t{i}" for i in range(400)]
    )
    docs = [
        (i, " ".join(words[i * 88 : (i + 1) * 88])) for i in range(10)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(4)
    phi = 0.05  # k=20 counters << 403 distinct terms
    got = {
        (r["term"], r["occurrences"])
        for r in heavy_hitter_terms(df, phi=phi).collect()
    }
    cnt = Counter(words)
    n = len(words)
    want = {(t, c) for t, c in cnt.items() if c > phi * n}
    assert got == want and len(want) >= 2


def test_bigrams_and_repetition_fraction_edges(spark):
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.functions.text import (
        bigrams_of,
        repetition_fraction,
        tokens,
    )

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "solo"), (3, ""), (4, "x y z")],
        "id long, text string",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            bigrams_of(tokens("text")).alias("b"),
            F.round(repetition_fraction(bigrams_of(tokens("text"))), 6).alias("rep"),
        ).collect()
    }
    # "a b a b a" -> [a b, b a, a b, b a]: 4 bigrams, 2 distinct
    assert rows[1]["b"] == ["a b", "b a", "a b", "b a"] and rows[1]["rep"] == 0.5
    assert rows[2]["b"] == [] and rows[2]["rep"] == 0.0  # 1 token: no bigrams
    assert rows[3]["b"] == [] and rows[3]["rep"] == 0.0  # empty text
    assert rows[4]["rep"] == 0.0  # all distinct
