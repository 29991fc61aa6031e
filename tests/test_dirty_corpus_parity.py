"""Wave-5 regression pins: registered query vs registered oracle on a
DIRTY corpus (NULL keys / NULL measures / REAL NaN doubles / empty and
whitespace text / NULL and empty embeddings planted into sf0.001).

The driver's correctness gate runs on clean testdata, so none of the
wave-5 defect classes (ANSI divide-by-zero aborts, fabricated ''
shingles, NULL-signature LSH buckets, DuckDB list_inner_product
hard-errors, NULLS FIRST-vs-LAST window shifts, NaN clamp/quantile
poisoning, vacuous whole-text-hash containment) can regress there —
this suite re-runs the full engine-parity comparison on the corpus
that exposed them. The planting harness is tools/dirty_sweep.py (the
same one the ad-hoc full sweep uses; it writes NaN through DuckDB SQL
literals because pandas->parquet silently rewrites NaN as NULL).

One query per fixed root cause, plus the robustness umbrella q184.
"""
from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest

import __spark_entry__ as entry
from tests.oracle_utils import assert_query_parity, oracle_connection
from tools.dirty_sweep import DIRTY, build_dirty

#: query -> the wave-5 defect class it pins
PINNED = {
    "q98_training_mixture_plan": "ANSI div0 abort -> try_divide (zero-token source)",
    "q165_near_dup_edit_distances": "ANSI div0 abort (two empty normalized docs)",
    "q166_weighted_sample_without_replacement": "ES weight domain n_chars > 0",
    "q173_alpha_smoothed_mixture": "ANSI div0 abort (0/0 boost)",
    "q32_ngram_jaccard_pairs": "fabricated '' shingle for zero-token docs",
    "q33_minhash_lsh_near_dups": "NULL minhash signatures bucketed together",
    "q54_char_shingle_jaccard": "char-family ['']/[NULL] shingles: empty/NULL docs phantom-paired (r7)",
    "q30_embedding_topk_cosine": "DuckDB list_inner_product NULL-list hard-error",
    "q44_embedding_ivf_topk": "raw IVF oracle scan of dirty embeddings",
    "q114_cosine_histogram_sampled": "chunk-order-sensitive norm evaluation",
    "q39_tumbling_hourly_events": "oracle NULL time bucket F.window never creates",
    "q41_user_session_windows": "NULL ts in gaps-and-islands session split",
    "q46_event_props_json": "DuckDB ->> hard-error on malformed JSON",
    "q51_monthly_order_running_total": "NULLS FIRST/LAST running-total shift",
    "q68_order_price_deciles": "NULL/NaN price shifts every ntile boundary",
    "q92_event_type_transitions": "NULL-ts transition direction flip",
    "q109_customer_revenue_gini": "NULL revenue rank shift (FIRST vs LAST)",
    "q119_hourly_event_ohlc": "batch OHLC NULL bucket vs F.window family",
    "q131_user_activity_bitmap": "negative day offset: DuckDB trap / Java mod-64 wrap",
    "q136_winsorized_price_stats": "NaN through quantile + greatest/least clamp",
    "q144_approx_percentile_bounds": "NULL-key inner join dropped a GROUP BY group",
    "q146_quantile_normalization": "NaN/NULL rank + quantile interpolation",
    "q156_exact_substring_containment": "empty doc 'contained' in everything",
    "q171_session_depth_conversion": "NULL-ts session split",
    "q175_length_quality_heatmap": "NULL text quintile shift",
    "q38_multimodal_frame_sample": "DuckDB least() ignores NULL frame count",
    "q184_dirty_corpus_robustness": "dirty-robustness umbrella on a dirtier corpus",
    "q101_zscore_normalization": "Inf: DuckDB stddev_samp OUT OF RANGE vs Spark NaN",
    "q80_kmeans_clusters": "Inf vector poisons oracle centroids (Spark drops it)",
    "q152_pq_codebook_quality": "Inf element: partial PQ code word vs whole-vector domain",
    # round-7 tie / NULL-ts-pair / positive-control finds
    "q70_user_value_scd2": "NULL-ts view change fabricated a trailing version (oracle lacked the undated-change mirror)",
    "q130_daily_peak_concurrency": "all-undated user: phantom NULL-day session row oracle-side; tied-ts session splits",
    "q163_label_centroid_drift": "antipodal pair cancels a half-centroid to zero: ANSI div0 abort vs DuckDB NaN",
    # round-9 zero-vector positive-control find
    "q180_residual_quantization_gain": "planted zero vector: coarse COSINE over the Euclidean keep-zero domain — ANSI div0 abort vs DuckDB x/0->NULL parking it in the lowest cell",
    "q58_near_dup_clusters": "positive control: planted dup pair + unicode 3-clique must cluster identically",
    # round-11 strings-axis finds
    "q59_tfidf_top_terms": "NUL tfidf tie: DuckDB window sort is NUL-blind -> oracle ranks by hex(term)",
    "q151_session_path_trigrams": "NUL event_type inside trigrams at the LIMIT boundary: NUL-blind large sort -> hex(trigram)",
}


@pytest.fixture(scope="module")
def dirty_env():
    tmp = tempfile.mkdtemp(prefix="dirty_parity_")
    build_dirty(Path(tmp))
    with oracle_connection(tmp) as con:
        yield tmp, con
    shutil.rmtree(tmp, ignore_errors=True)


def test_planted_nan_survives_parquet(dirty_env):
    """The harness contract: NaN probes must reach the engines AS NaN.
    pandas->parquet rewrites NaN to NULL (nan_as_null), which silently
    un-plants the probe — the reason wave 5's first pass missed the
    NaN defects in q136/q146."""
    tmp, con = dirty_env
    n = con.execute(
        "SELECT count(*) FROM orders WHERE isnan(o_totalprice)"
    ).fetchone()[0]
    assert n == 1
    assert any(
        isinstance(v, float) and v != v
        for row in DIRTY["orders"]
        for v in row.values()
    )


@pytest.mark.parametrize("name", sorted(PINNED))
def test_dirty_corpus_engine_parity(spark, dirty_env, name):
    tmp, con = dirty_env
    assert_query_parity(spark, name, tmp, con)


def test_positive_control_pairs_surface(spark, dirty_env):
    """Parity alone is vacuous if BOTH engines drop the planted
    duplicates — this asserts the round-7 positive controls actually
    travel the pairing path: the ASCII dup pair and the byte-identical
    unicode 3-clique must appear as J=1.0 exact-Jaccard pairs, and the
    one-token-changed variant must stay below 1.0."""
    tmp, _ = dirty_env
    got = entry.queries()["q32_ngram_jaccard_pairs"](spark, tmp).toPandas()
    pairs = {
        (int(a), int(b)): float(j)
        for a, b, j in zip(got["id_a"], got["id_b"], got["jaccard"])
    }
    assert pairs.get((990030, 990031)) == 1.0
    for a, b in ((990016, 990032), (990016, 990033), (990032, 990033)):
        assert pairs.get((a, b)) == 1.0
    # one changed token: J<1 by construction. The pair may legitimately
    # fall below the query's Jaccard floor (absent), but it must NEVER
    # surface as an exact dup — asserted unconditionally for both
    # variant pairs (the round-7 conditional form was vacuous when the
    # pair was filtered out; round-8 advisor).
    for pair in ((990030, 990034), (990031, 990034)):
        assert pair not in pairs or pairs[pair] < 1.0, (
            f"one-token-changed variant {pair} surfaced as an exact dup"
        )
    # round-11 strings-axis controls: the NUL twins and the case-fold
    # twins are byte-identical (J=1.0 through the NUL/astral shingle
    # hashing), and the ZWJ pair differs ONLY by two invisible U+200D
    # in one token of fifty — a true near-dup (J = 46/50), never exact
    assert pairs.get((990044, 990045)) == 1.0, "NUL twins"
    assert pairs.get((990048, 990049)) == 1.0, "case-fold twins"
    assert pairs.get((990046, 990047)) == 0.92, "ZWJ pair"


def test_calendar_probes_reach_the_leap_window(spark, dirty_env):
    """Round-12 calendar-axis positive control: parity on the extended
    corpus is vacuous if the planted leap-window cluster never reaches
    q91's RANGE frame. The clean corpus has NO orders in Feb/Mar 2024,
    so the planted trio is the whole window: from 2024-03-01 the
    6-days-preceding bound must INCLUDE the 02-29 leap day and EXCLUDE
    02-23; from 02-29 it must still include 02-23 (exactly 6 days)."""
    tmp, _ = dirty_env
    got = entry.queries()["q91_trailing_week_order_volume"](spark, tmp).toPandas()
    rows = {r["day"]: r for _, r in got.iterrows()}
    assert rows["2024-02-23"]["trailing_7d_orders"] == 1
    assert rows["2024-02-29"]["trailing_7d_orders"] == 2  # 02-23 + leap day
    assert rows["2024-03-01"]["trailing_7d_orders"] == 2  # leap day + 03-01
    assert rows["2024-03-01"]["trailing_7d_avg_value"] == 250.0  # (200+300)/2
    # and the leap-day midnight pair sessions as ONE session (15-minute
    # gap) while splitting across to_date day buckets in both engines
    sess = entry.queries()["q41_user_session_windows"](spark, tmp).toPandas()
    assert (sess["user_id"] == 990073).sum() == 1, "leap-midnight pair split"


def test_q165_codepoint_distance_on_zwj_pair(spark, dirty_env):
    """Round-12 judge item 3: the round-11 byte-vs-codepoint parity fix
    NULLed q165's distance on non-ASCII pairs in BOTH engines — the
    right call for the oracle contract, but it removed a well-defined
    Spark capability. ``include_codepoints=True`` restores it as an
    engine-only column (excluded from the registered parity shape):
    the ZWJ pair that exposed the unit split differs by exactly TWO
    invisible U+200D code points, so the code-point distance is 2
    (DuckDB's byte walk would say 6 — each ZWJ is 3 UTF-8 bytes), while
    the parity column stays NULL (outside the ASCII unit domain)."""
    from flight_delays_progetto_big_data_2024_spark.plans.llm_plans import (
        q165_near_dup_edit_distances,
    )

    tmp, _ = dirty_env
    got = q165_near_dup_edit_distances(
        spark, tmp, include_codepoints=True
    ).toPandas()
    row = got[(got["id_a"] == 990046) & (got["id_b"] == 990047)]
    assert len(row) == 1, "ZWJ pair missing from the J>=0.5 survivors"
    assert row["edit_distance"].isna().all(), (
        "parity column must stay NULL outside the ASCII unit domain"
    )
    assert int(row["edit_distance_codepoints"].iloc[0]) == 2
    # the registered parity shape must NOT carry the engine-only column
    parity_cols = set(
        entry.queries()["q165_near_dup_edit_distances"](spark, tmp).columns
    )
    assert "edit_distance_codepoints" not in parity_cols


def test_rows_only_queries_survive_dirty_corpus(spark, dirty_env):
    """Round-8 gap: rows-only queries (no oracle) are SKIPPED by the
    dirty sweep, which is exactly how q137's NULL-embedding crash hid —
    the sweep's 184/184 said nothing about them. Every rows-only query
    must at least RUN on the dirty corpus and keep its clean-data row
    count (q29: one profile row; q137: k=8 component rows)."""
    import __spark_entry__ as entry

    tmp, _ = dirty_env
    qs, osql = entry.queries(), entry.oracle_sql()
    expected_rows = {
        "q29_cardinality_profile_approx": 1,
        "q137_embedding_pca_variance": 8,
    }
    rows_only = [n for n in qs if n not in osql]
    assert sorted(rows_only) == sorted(expected_rows), (
        "rows-only set changed — extend this test's expectations"
    )
    for name in rows_only:
        got = qs[name](spark, tmp).collect()
        assert len(got) == expected_rows[name], (name, len(got))
