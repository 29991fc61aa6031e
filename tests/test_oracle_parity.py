"""Every registered (query, oracle_sql) pair must agree with DuckDB —
the local mirror of the driver's t2 correctness gate, at sf0.001."""

import pytest

from flight_delays_progetto_big_data_2024_spark.plans import registry
from tests.oracle_utils import assert_query_parity


@pytest.mark.parametrize("name", sorted(registry.ORACLE))
def test_query_matches_oracle(spark, sf_dir, oracle, name):
    assert_query_parity(spark, name, sf_dir, oracle)


def test_comparator_distinguishes_negative_zero():
    """Round-3 q101 passed the in-repo sweep but failed the driver:
    DuckDB's round(avg(z),6) emitted IEEE -0.0 where Spark emitted
    +0.0, and Python float equality cannot tell them apart while the
    driver's byte-level value hash can. The comparator must now fail
    on exactly that drift — and still pass when signs agree."""
    import pandas as pd

    from tests.oracle_utils import assert_pandas_parity

    spark_side = pd.DataFrame({"k": ["a", "b"], "v": [0.0, 1.5]})
    oracle_side = pd.DataFrame({"k": ["a", "b"], "v": [-0.0, 1.5]})
    with pytest.raises(AssertionError, match="negative-zero drift"):
        assert_pandas_parity(spark_side, oracle_side)
    # matching signs (both -0.0, both +0.0) are fine
    assert_pandas_parity(
        pd.DataFrame({"v": [-0.0, 0.0]}), pd.DataFrame({"v": [-0.0, 0.0]})
    )


def test_every_query_returns_rows(spark, sf_dir):
    # the driver's rows-only gate; every registered query is known to be
    # non-empty at every shipped SF — a zero here is a regression
    for name, fn in registry.QUERIES.items():
        assert fn(spark, sf_dir).count() > 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_coverage_doc_references_match_registry():
    """Every qNN referenced in COVERAGE.md must exist in the registry and
    every registered query must appear in COVERAGE.md — the doc the
    judge reads can't drift from the code."""
    import re

    text = open("COVERAGE.md").read()
    # lines declaring ids as intentionally unused are exempt from the
    # must-be-registered direction (they document numbering gaps)
    exempt: set[str] = set()
    for line in text.splitlines():
        if "intentionally unused" in line:
            exempt |= set(re.findall(r"\bq(\d+)\b", line))
    doc_ids = {m for m in re.findall(r"\bq(\d+)\b", text)} - exempt
    for lo, hi in re.findall(r"\bq(\d+)-q(\d+)\b", text):
        doc_ids |= {str(i) for i in range(int(lo), int(hi) + 1)}
    reg_ids = {name.split("_")[0][1:] for name in registry.QUERIES}
    missing_in_registry = {f"q{i}" for i in doc_ids - reg_ids}
    missing_in_doc = {f"q{i}" for i in reg_ids - doc_ids}
    assert not missing_in_registry, f"COVERAGE.md cites unknown queries: {missing_in_registry}"
    assert not missing_in_doc, f"registered but undocumented: {missing_in_doc}"


def test_newest_green_round_record_semantics(tmp_path):
    """_newest_green_round classifies fixture records exactly: full green
    and documented rows-only count as verified; hash-fails and errors
    rotate back. Driven entirely from synthesized records in tmp_path
    so the suite stays green no matter which live CORRECTNESS_r*.json
    rounds the driver has committed to the repo root."""
    import json

    import __spark_entry__ as e

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 5, "oracle_rows": 5, "err": None}
    hashfail = dict(green, hash_match=False)
    rows_only = {"rows_match": True, "schema_match": None, "hash_match": None,
                 "spark_rows": 5, "oracle_rows": None, "err": "no_oracle"}
    errored = dict(green, rows_match=False, err="boom")
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_green": green, "q_fail_then_pass": hashfail,
        "q_rows_only": rows_only, "q_errored": errored,
    }))
    # a later round fixing the failed row must flip it to verified
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "q_fail_then_pass": green,
    }))
    ver = e._newest_green_round(str(tmp_path))
    assert ver == {"q_green": 1, "q_fail_then_pass": 2, "q_rows_only": 1}
    # empty/absent directory -> nothing verified
    assert e._newest_green_round(str(tmp_path / "nowhere")) == {}


def test_rotation_puts_unverified_queries_first():
    """The driver records only the FIRST 50 queries() entries; the
    rotation must spend that window on queries without green driver
    evidence. Asserts the partition INVARIANT against whatever live
    records exist (not any particular round's contents)."""
    import __spark_entry__ as e

    newest = e._newest_green_round()
    order = list(e.queries())
    n_unv = sum(1 for n in order if n not in newest)
    assert all(n not in newest for n in order[:n_unv])
    assert all(n in newest for n in order[n_unv:])
    # the verified tail refreshes stalest evidence first: newest-green
    # round numbers must be non-decreasing down the tail (round-3 judge
    # item — without this, recheck windows re-pin the same prefix)
    ages = [newest[n] for n in order[n_unv:]]
    assert ages == sorted(ages)


def test_rotation_order_on_fixture_records(tmp_path, monkeypatch):
    """The full window order is a pure function of the records:
    never-seen and newest-failed queries first in registration order,
    then the verified tail oldest-evidence-first, registration order
    breaking same-round ties."""
    import json

    import __spark_entry__ as e

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 5, "oracle_rows": 5, "err": None}
    hashfail = dict(green, hash_match=False)
    monkeypatch.setattr(e.registry, "QUERIES", dict.fromkeys(
        ["q_new", "q_r3_a", "q_failed", "q_r1", "q_r3_b", "q_r2", "q_new2"]
    ))
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_r1": green, "q_failed": green, "q_r3_b": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_r2": green, "q_failed": hashfail})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q_r3_b": green, "q_r3_a": green})
    )
    assert e._ordered(str(tmp_path)) == [
        "q_new", "q_failed", "q_new2", "q_r1", "q_r2", "q_r3_a", "q_r3_b",
    ]


def test_newest_green_round_tracks_latest_record(tmp_path):
    """Evidence age = the newest round with a green row, and LATEST
    EVIDENCE WINS: a query whose newest record is a failed re-check is
    no longer verified (rotates back), while a re-verified query's age
    advances."""
    import json

    import __spark_entry__ as e

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 5, "oracle_rows": 5, "err": None}
    hashfail = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_regressed": green, "q_refreshed": green, "q_stale": green})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q_refreshed": green, "q_regressed": hashfail})
    )
    newest = e._newest_green_round(str(tmp_path))
    assert newest == {"q_stale": 1, "q_refreshed": 3}
