"""Parity-sweep evidence gate. Each committed ``<stem>_r<N>.json`` is a
full ``tools/dirty_sweep.py`` run: every SQL-backed registered query
replayed against its own DuckDB oracle on a derived sf0.001 corpus.
There are four families, the dirty corpus under the clean and under the
hostile layout (shuffle.partitions=7, 64 KB splits, AQE off), the empty
corpus and the single-row corpus. For each family the newest artifact
must be

- clean: zero mismatches and crashes, under the corpus and layout its
  name says;
- current: its ``corpus_digest`` equals the live corpus spec, so editing
  the planted rows or the empty/single derivation invalidates old
  evidence and forces a re-run;
- complete: every registered SQL-backed query matched, and only
  rows-only queries were skipped.

The dirty families also carry a clean streaming section (each streaming
operator over the dirty events against its batch analog).
"""

import glob
import json
import os
import re

import pytest

from tools.dirty_sweep import CORPORA, artifact_stem, sweep, write_artifact

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: family id -> (corpus, hostile layout)
FAMILIES = {
    "clean": ("dirty", False),
    "hostile": ("dirty", True),
    "empty": ("empty", False),
    "single": ("single", False),
}
STREAMING_OPS = {
    "sessionize_stream_vs_batch",
    "stream_interval_join_vs_batch",
    "stream_interval_join_outer_vs_batch",
    "stream_dedup_vs_batch",
    "stream_tumbling_vs_batch",
    "stream_session_windows_vs_batch",
    "running_totals_stream",
}


def newest_artifact(family, root=REPO):
    corpus, hostile = FAMILIES[family]
    stem = artifact_stem(corpus, hostile)
    paths = glob.glob(os.path.join(root, f"{stem}_r*.json"))
    assert paths, (
        f"no {stem}_r*.json committed — run `python tools/dirty_sweep.py "
        f"--corpus {corpus}{' --hostile' if hostile else ''} --out "
        f"{stem}_r<N>.json` (alone) and commit the result"
    )
    path = max(paths, key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)))
    with open(path) as fh:
        return json.load(fh)


def assert_clean(rec, family):
    assert (rec["corpus"], rec["hostile_layout"]) == FAMILIES[family], (
        f"{family}: the artifact's corpus/layout does not match its name"
    )
    bad = {n: q for n, q in rec["queries"].items() if q["status"] in ("mismatch", "crash")}
    assert not bad and rec["totals"]["mismatch"] == rec["totals"]["crash"] == 0, (
        f"{family} sweep records divergences — fix them and re-run it: {bad}"
    )
    assert rec["totals"]["match"] > 0


def assert_current(rec, family):
    corpus, _ = FAMILIES[family]
    assert rec["corpus_digest"] == CORPORA[corpus][1](), (
        f"{family} sweep ran on a different {corpus} corpus than "
        "tools/dirty_sweep.py builds today — re-run it and commit a fresh artifact"
    )


@pytest.mark.parametrize("family", FAMILIES)
def test_committed_sweep_is_clean(family):
    assert_clean(newest_artifact(family), family)


@pytest.mark.parametrize("family", FAMILIES)
def test_committed_sweep_matches_current_corpus(family):
    assert_current(newest_artifact(family), family)


@pytest.mark.parametrize("family", FAMILIES)
def test_committed_sweep_covers_registered_surface(family):
    """Every registered SQL-backed query must appear with status
    'match'; rows-only queries (no oracle) must be the only skips."""
    import __spark_entry__ as entry

    rec = newest_artifact(family)
    qs, osql = entry.queries(), entry.oracle_sql()
    missing = [n for n in qs if n in osql and rec["queries"].get(n, {}).get("status") != "match"]
    assert not missing, f"{family}: registered SQL-backed queries not swept clean: {missing}"
    bad_skips = [
        n for n, q in rec["queries"].items()
        if q["status"] == "rows_only_skipped" and n in osql
    ]
    assert not bad_skips, f"{family}: oracle-backed queries recorded as rows-only skips: {bad_skips}"


@pytest.mark.parametrize("family", ["clean", "hostile"])
def test_committed_sweep_has_clean_streaming_section(family):
    """Every streaming op must be recorded, each either 'match' or an
    honest 'env_gated' (the TWS transport needs protobuf)."""
    streaming = newest_artifact(family).get("streaming")
    assert streaming, f"{family} sweep has no streaming section — re-run it"
    assert STREAMING_OPS <= set(streaming), (
        f"streaming section missing ops: {sorted(STREAMING_OPS - set(streaming))}"
    )
    bad = {n: r for n, r in streaming.items() if r["status"] not in ("match", "env_gated")}
    assert not bad, f"{family}: streaming divergences {bad}"


def test_sweep_writes_a_gated_artifact(spark, tmp_path):
    """The sweep itself, in-process on the empty corpus for two cheap
    queries: its record has the one artifact layout, the gate's
    per-artifact checks accept it, and they reject a copy with a
    mismatch and a copy with a stale corpus digest."""
    names = ["q01_popular_nations_avg_delay", "q13_return_ratio_by_priority"]
    rec = sweep(spark, "empty", only=names)
    write_artifact(rec, tmp_path / "EMPTY_SWEEP_r1.json")
    rec = newest_artifact("empty", root=str(tmp_path))
    assert set(rec) == {"corpus", "hostile_layout", "sf", "corpus_digest", "totals", "queries"}
    assert set(rec["queries"]) == set(names)
    assert rec["totals"] == {"match": 2, "mismatch": 0, "crash": 0, "rows_only_skipped": 0}
    assert all(q == {"status": "match", "detail": "rows=0"} for q in rec["queries"].values())
    assert_clean(rec, "empty")
    assert_current(rec, "empty")

    diverged = json.loads(json.dumps(rec))
    diverged["queries"][names[0]] = {"status": "mismatch", "detail": "row-count mismatch"}
    with pytest.raises(AssertionError, match="divergences"):
        assert_clean(diverged, "empty")
    stale = dict(rec, corpus_digest="0" * 32)
    with pytest.raises(AssertionError, match="different empty corpus"):
        assert_current(stale, "empty")
