"""One engine-vs-oracle parity sweep over a derived corpus.

Builds a corpus from the sf0.001 testdata, runs EVERY SQL-backed
registered query on it in both engines — the Spark plan and its own
DuckDB oracle — and records, per query, whether it matched, diverged or
crashed. Three corpora (``--corpus``):

* ``dirty``  — the testdata with adversarial rows planted in every
  table (``DIRTY``: NULL keys, NULL measures, NaN/±Inf doubles, empty
  strings, negative counts, empty and deviant-dimension embeddings,
  domain-edge ids and timestamps, tie clusters, Unicode probes). Its
  artifact also carries a streaming section: each streaming operator
  replayed over the dirty events against its batch analog.
* ``empty``  — every table is its parquet schema with ZERO rows.
* ``single`` — every table holds exactly ONE row, the lowest-key row.
  Key relationships between tables are whatever the lowest keys imply:
  broken referential integrity is part of the probe (empty join sides,
  groups of one, sample variance's 0/0).

``--hostile`` runs under ``HOSTILE_LAYOUT`` (shuffle.partitions=7,
64 KB input splits, AQE off), composing dirty values x tied sort keys
x a layout that actually permutes ties.

Run ALONE (on 4 cores a full sweep takes ~8 minutes dirty, ~2 empty or single):

    python tools/dirty_sweep.py --corpus dirty|empty|single [--hostile] \
        [--only q65,q66] [--out DIRTY_SWEEP_r<N>.json]

``--out`` names the artifact; its file name must be the corpus's
(``artifact_stem``): DIRTY_SWEEP[_HOSTILE]_r<N>.json, EMPTY_SWEEP_r<N>.json,
SINGLE_SWEEP_r<N>.json. tests/test_dirty_sweep_evidence.py gates the
newest of each family, so registering a query or editing a corpus means
re-running the sweeps. The tool exits 1 on an unclean sweep.
"""
from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import re
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from flight_delays_progetto_big_data_2024_spark.sources.readers import (  # noqa: E402
    TESTDATA_TABLES,
)

SRC_SF = "/root/testdata/sf0.001"

#: the partition-layout regime the --hostile sweep and
#: tests/test_partition_invariance.py run under
HOSTILE_LAYOUT = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.adaptive.enabled": "false",
}

# Planted rows per table: same schema, adversarial values. IDs live far
# outside the clean key ranges so they join to nothing real; the point
# is NULL/NaN/degenerate handling, where the two engines can disagree.
NAN = float("nan")
INF = float("inf")
TS0 = pd.Timestamp("1997-06-15 12:00:00")
#: in-corpus-range timestamp so Inf probes flow through every window
TS1 = pd.Timestamp("2024-01-05 09:00:00")
#: far-future representability edge: double-cast seconds lose
#: microseconds past ~2^33 s (ulp ≈ 3.8 µs here), still under pandas'
#: 2262 ns-timestamp ceiling
TS2 = pd.Timestamp("2260-01-01 00:00:00")
DIRTY: dict[str, list[dict]] = {
    "region": [
        {"r_regionkey": None, "r_name": None},
    ],
    "nation": [
        {"n_nationkey": None, "n_name": None, "n_regionkey": None},
        {"n_nationkey": 990001, "n_name": "", "n_regionkey": None},
    ],
    "customer": [
        {"c_custkey": None, "c_name": None, "c_nationkey": None,
         "c_acctbal": None, "c_mktsegment": None},
        {"c_custkey": 990002, "c_name": "", "c_nationkey": None,
         "c_acctbal": NAN, "c_mktsegment": ""},
        {"c_custkey": 990014, "c_name": "inf", "c_nationkey": None,
         "c_acctbal": -INF, "c_mktsegment": "BUILDING"},
        # round-10 MEASURE-domain probes: finite extremes on the money
        # axis. DBL_MAX is finite (passes every isfinite guard the ±Inf
        # probes forced) but absorbs every corpus addend (x + DBL_MAX =
        # DBL_MAX exactly for |x| < ~1e292), so same-sign group sums
        # are bit-deterministic in ANY accumulation order — the probe
        # tests magnitude handling (round/avg/hash at 1e308, squared-
        # deviation overflow in stddev paths), not engineered drift.
        # The denormal probes the other end: round(5e-324, k) must be
        # +0.0 in both engines and the value must survive parquet and
        # the Arrow bridge without flushing to zero.
        {"c_custkey": 990040, "c_name": "dbl-max", "c_nationkey": None,
         "c_acctbal": 1.7976931348623157e308, "c_mktsegment": "MACHINERY"},
        {"c_custkey": 990041, "c_name": "denormal", "c_nationkey": None,
         "c_acctbal": 5e-324, "c_mktsegment": "MACHINERY"},
    ],
    "supplier": [
        {"s_suppkey": None, "s_name": None, "s_nationkey": None,
         "s_acctbal": None},
        {"s_suppkey": 990003, "s_name": "", "s_nationkey": None,
         "s_acctbal": -0.0},
        # round-10 measure probe: smallest NORMAL double — the
        # denormal/normal boundary where x87-style double-rounding or a
        # flush-to-zero fast-math build would diverge
        {"s_suppkey": 990042, "s_name": "min-normal", "s_nationkey": None,
         "s_acctbal": 2.2250738585072014e-308},
    ],
    "part": [
        {"p_partkey": None, "p_name": None, "p_brand": None,
         "p_type": None, "p_size": None, "p_retailprice": None},
        {"p_partkey": 990004, "p_name": "", "p_brand": "",
         "p_type": "", "p_size": -1, "p_retailprice": NAN},
        # round-10 measure probe: near-max retail price (finite, half
        # of DBL_MAX — two of these summed stay finite at 1.98e308,
        # probing the last representable binade without overflow)
        {"p_partkey": 990043, "p_name": "near-max", "p_brand": "",
         "p_type": "", "p_size": 1, "p_retailprice": 9.9e307},
    ],
    "orders": [
        {"o_orderkey": None, "o_custkey": None, "o_orderstatus": None,
         "o_totalprice": None, "o_orderdate": None,
         "o_orderpriority": None},
        {"o_orderkey": 990005, "o_custkey": None, "o_orderstatus": "",
         "o_totalprice": NAN, "o_orderdate": TS0, "o_orderpriority": ""},
        {"o_orderkey": 990011, "o_custkey": 990011, "o_orderstatus": "O",
         "o_totalprice": INF, "o_orderdate": TS1,
         "o_orderpriority": "1-URGENT"},
        # round-10 measure probe: SAME-SIGN overflow pair — two finite
        # 1e308 prices in one priority group drive sum(o_totalprice)
        # to +Inf MID-AGGREGATION (not from a planted Inf literal).
        # Same-sign makes it order-deterministic: every accumulation
        # order reaches +Inf, and isfinite guards that drop the Inf
        # LITERAL probes still admit these rows, so the overflow
        # happens inside both engines' accumulators identically.
        {"o_orderkey": 990040, "o_custkey": None, "o_orderstatus": "O",
         "o_totalprice": 1.0e308, "o_orderdate": TS1,
         "o_orderpriority": "4-NOT SPECIFIED"},
        {"o_orderkey": 990041, "o_custkey": None, "o_orderstatus": "O",
         "o_totalprice": 1.0e308, "o_orderdate": TS1,
         "o_orderpriority": "4-NOT SPECIFIED"},
        # round-12 CALENDAR probes on the order-date axis: a leap-window
        # cluster for the trailing-7d RANGE frame (q91). From 2024-03-01
        # the 6-days-preceding bound reaches back to 02-24: it must
        # INCLUDE the 02-29 leap day and EXCLUDE 02-23 in both engines
        # (Spark counts days-since-epoch via unix_date; DuckDB applies
        # INTERVAL 6 DAY to a DATE — any month-length-naive subtraction
        # diverges exactly here). The 12-31 23:59 order pins the
        # year/month-trunc edge (must stay 2024 / December), and the
        # Sunday order rides q12's isodow-vs-weekday+1 convention.
        {"o_orderkey": 990042, "o_custkey": None, "o_orderstatus": "O",
         "o_totalprice": 100.0,
         "o_orderdate": pd.Timestamp("2024-02-23 12:00:00"),
         "o_orderpriority": "2-HIGH"},
        {"o_orderkey": 990043, "o_custkey": None, "o_orderstatus": "O",
         "o_totalprice": 200.0,
         "o_orderdate": pd.Timestamp("2024-02-29 12:00:00"),
         "o_orderpriority": "2-HIGH"},
        {"o_orderkey": 990044, "o_custkey": None, "o_orderstatus": "O",
         "o_totalprice": 300.0,
         "o_orderdate": pd.Timestamp("2024-03-01 12:00:00"),
         "o_orderpriority": "2-HIGH"},
        {"o_orderkey": 990045, "o_custkey": None, "o_orderstatus": "O",
         "o_totalprice": 400.0,
         "o_orderdate": pd.Timestamp("2024-12-31 23:59:59"),
         "o_orderpriority": "3-MEDIUM"},
        {"o_orderkey": 990046, "o_custkey": None, "o_orderstatus": "O",
         "o_totalprice": 500.0,
         "o_orderdate": pd.Timestamp("2024-01-07 12:00:00"),
         "o_orderpriority": "3-MEDIUM"},
    ],
    "lineitem": [
        {"l_orderkey": None, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": None, "l_quantity": None,
         "l_extendedprice": None, "l_discount": None, "l_tax": None,
         "l_returnflag": None, "l_linestatus": None, "l_shipdate": None},
        {"l_orderkey": 990006, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": 1, "l_quantity": -1.0,
         "l_extendedprice": NAN, "l_discount": 0.0, "l_tax": 0.0,
         "l_returnflag": "", "l_linestatus": "", "l_shipdate": TS0},
        {"l_orderkey": 990012, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": 1, "l_quantity": 1.0,
         "l_extendedprice": INF, "l_discount": 0.0, "l_tax": 0.0,
         "l_returnflag": "N", "l_linestatus": "O", "l_shipdate": TS1},
        # round-10 measure probes, square-overflow boundary pair:
        # 1.3e154² = 1.69e308 is FINITE while 1.4e154² overflows — the
        # exact edge where one-pass variance/stddev/corr accumulators
        # (Σx² or Welford M2) leave the representable range while the
        # sum itself stays finite. Both rows are same-sign and mutually
        # absorbing against corpus prices, so sums stay deterministic.
        {"l_orderkey": 990042, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": 1, "l_quantity": 1.0,
         "l_extendedprice": 1.3e154, "l_discount": 0.0, "l_tax": 0.0,
         "l_returnflag": "N", "l_linestatus": "O", "l_shipdate": TS1},
        {"l_orderkey": 990043, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": 1, "l_quantity": 1.0,
         "l_extendedprice": 1.4e154, "l_discount": 0.0, "l_tax": 0.0,
         "l_returnflag": "N", "l_linestatus": "O", "l_shipdate": TS1},
        # round-10 ROUNDING-ENVELOPE exit probe: twin quantities of
        # 2251799813.685248 (= 2^51·2^-20-grid value) in one order
        # push the GLOBAL sum(l_quantity) to ~4.5036e9 — just past the
        # round(x,6) parity envelope 2^52·10^-6. Deterministic by
        # construction: corpus quantities are INTEGERS (verified) and
        # the twin pair sums exactly (×2 is an exponent bump), so every
        # partial sum lies exactly on the 2^-20 ulp grid of the total —
        # no accumulation rounds, no order sensitivity in either
        # engine. What it probes is the ROUNDING step: round(exact
        # double, 6) past the envelope, where a multiply-by-1e6-based
        # round and an exact-decimal-expansion round can disagree.
        {"l_orderkey": 990044, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": 1, "l_quantity": 2251799813.685248,
         "l_extendedprice": 1.0, "l_discount": 0.0, "l_tax": 0.0,
         "l_returnflag": "N", "l_linestatus": "O", "l_shipdate": TS1},
        {"l_orderkey": 990044, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": 2, "l_quantity": 2251799813.685248,
         "l_extendedprice": 1.0, "l_discount": 0.0, "l_tax": 0.0,
         "l_returnflag": "N", "l_linestatus": "O", "l_shipdate": TS1},
        # round-12 CALENDAR probes on the ship-date axis: leap-day
        # shipment (rides q69's promo window arithmetic and q89's
        # datediff lead-time path) and the last second of the year —
        # date_trunc('year') must keep it in 2024 for the q94 grouping
        # sets, not spill to 2025
        {"l_orderkey": 990045, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": 1, "l_quantity": 1.0,
         "l_extendedprice": 10.0, "l_discount": 0.0, "l_tax": 0.0,
         "l_returnflag": "N", "l_linestatus": "O",
         "l_shipdate": pd.Timestamp("2024-02-29 12:00:00")},
        {"l_orderkey": 990046, "l_partkey": None, "l_suppkey": None,
         "l_linenumber": 1, "l_quantity": 1.0,
         "l_extendedprice": 20.0, "l_discount": 0.0, "l_tax": 0.0,
         "l_returnflag": "N", "l_linestatus": "O",
         "l_shipdate": pd.Timestamp("2024-12-31 23:59:59")},
    ],
    "events": [
        {"event_id": None, "ts": None, "user_id": None,
         "event_type": None, "value": None, "props": None},
        {"event_id": 990007, "ts": TS0, "user_id": None,
         "event_type": "", "value": NAN, "props": ""},
        {"event_id": 990013, "ts": TS1, "user_id": 990013,
         "event_type": "view", "value": INF, "props": "{}"},
        # round-7 tie probes: tied (user_id, ts) rows are the input
        # class where a ts-only window sort is nondeterministic — the
        # q41/q130 gaps-and-islands decompositions split one session
        # into two under load before the (ts, event_id) total-order
        # fix. A 3-way same-user tie exercises flag+running-sum,
        # sequence (lag/lead), and rank paths; the cluster also ties
        # with 990013 ACROSS users for global sweep-line windows.
        {"event_id": 990022, "ts": TS1, "user_id": 990022,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 990023, "ts": TS1, "user_id": 990022,
         "event_type": "click", "value": 2.0, "props": "{}"},
        {"event_id": 990024, "ts": TS1, "user_id": 990022,
         "event_type": "purchase", "value": 3.0, "props": "{}"},
        # two undated events for the SAME user — the pairing form of
        # "undated rows have no timeline place": they must not order,
        # session, or interval-pair with each other
        {"event_id": 990025, "ts": None, "user_id": 990025,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 990026, "ts": None, "user_id": 990025,
         "event_type": "click", "value": 2.0, "props": "{}"},
        # session-gap boundary trio: a gap of EXACTLY 2h merges (the
        # contract is strictly-greater), 2h + 1 microsecond splits.
        # Probes the double-cast-seconds arithmetic (Spark plans)
        # against microsecond-integer INTERVAL comparison (DuckDB) at
        # the representability edge.
        {"event_id": 990027, "ts": TS1, "user_id": 990027,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 990028,
         "ts": TS1 + pd.Timedelta(hours=2), "user_id": 990027,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 990029,
         "ts": TS1 + pd.Timedelta(hours=4, microseconds=1),
         "user_id": 990027, "event_type": "view", "value": 1.0,
         "props": "{}"},
        # negative zero as the ONLY measurement of its (user, type)
        # group: the driver's value hash distinguishes IEEE -0.0 from
        # +0.0, so any rounded aggregate landing on this group must
        # normalize the zero sign in BOTH engines (the q101 rule)
        {"event_id": 990030, "ts": TS1, "user_id": 990030,
         "event_type": "error", "value": -0.0, "props": "{}"},
        # round-9 id-DOMAIN probes, part 3: events. Extreme event_ids
        # ride the arrival-order convention (q99/q162: event_id IS
        # arrival order) and its %17 redelivery plant; extreme/negative
        # user_ids ride every keyed aggregation, the q55 Kafka
        # partitioner, and the TWS streaming state key. Specifically:
        # - LONG_MIN event_id: minimum arrival slot, %17 = -9 (negative
        #   remainder branch, both engines dividend-sign)
        # - 9223372036854775799 = the largest multiple of 17 ≤ LONG_MAX:
        #   sits INSIDE the top-500 arrival band, so the q162 "+500
        #   redelivery" plant must saturate, not overflow
        # - user_id -7: pmod(-7,4)=1 but dividend-sign -7%4=-3 — the
        #   probe that forces the Kafka-partition oracle to agree with
        #   the pmod partitioner on negatives
        # - LONG_MIN user_id: collides with any in-band NULL-key
        #   sentinel in streaming state (a real snowflake-style id
        #   space includes it); LONG_MAX user_id: exactness through
        #   the TWS key's Arrow->pandas bridge
        {"event_id": -(2**63), "ts": TS0, "user_id": -7,
         "event_type": "view", "value": 1.5, "props": "{}"},
        {"event_id": 9223372036854775799, "ts": TS1, "user_id": -(2**63),
         "event_type": "click", "value": 2.5, "props": "{}"},
        {"event_id": 990035, "ts": TS1, "user_id": 2**63 - 1,
         "event_type": "purchase", "value": 3.5, "props": "{}"},
        # round-9 TIMESTAMP-domain probes, part 4: the 990027 session-
        # boundary trio re-planted at the far-future representability
        # edge. At epoch ~9.15e9 s (year 2260, still under pandas' 2262
        # ns ceiling) the double ulp is ~3.8 MICROseconds, so any
        # event-time gap routed through double-cast seconds is
        # microsecond-BLIND there: the 2h+1µs gap computes as exactly
        # 7200.0 and merges, while integer-µs/INTERVAL arithmetic
        # splits. Same trio shape: exactly-2h merges, 2h+1µs splits.
        {"event_id": 990036, "ts": TS2, "user_id": 990036,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 990037, "ts": TS2 + pd.Timedelta(hours=2),
         "user_id": 990036, "event_type": "view", "value": 1.0,
         "props": "{}"},
        {"event_id": 990038,
         "ts": TS2 + pd.Timedelta(hours=4, microseconds=1),
         "user_id": 990036, "event_type": "view", "value": 1.0,
         "props": "{}"},
        # pre-epoch sibling (negative unix time, 1901): negative
        # integer-µs arithmetic and negative day offsets on every
        # date_diff/bucketing path (q131's 0..62 bitmap guard, q154's
        # floored cohorts)
        {"event_id": 990039, "ts": pd.Timestamp("1901-06-15 12:00:00"),
         "user_id": 990039, "event_type": "view", "value": 1.0,
         "props": "{}"},
        # round-10 MEASURE-domain probes on the behavioral axis.
        # +DBL_MAX passes every isfinite guard the ±Inf probes forced,
        # absorbs all corpus values (order-deterministic same-sign
        # sums), and blows one-pass variance accumulators to Inf/NaN.
        # -9e307 is the negative extreme chosen so that even when a
        # group/global aggregate combines it with +DBL_MAX the result
        # (8.977e307) is EXACT in every accumulation order (both values
        # share the top binades; corpus addends vanish below their
        # ulp) — unlike a -DBL_MAX twin, which would make finite-sum
        # groups order-dependent (engineered irreconcilable, not a
        # probe). It lives at TS0 under its own type so windowed slices
        # see each extreme alone. 4.9e-324 = the smallest positive
        # denormal; 5e-7 = the classic round(x,6) half-tie whose
        # nearest double sits just above the decimal tie (the q172
        # family's boundary, now planted as a standing probe).
        {"event_id": 990040, "ts": TS1, "user_id": 990040,
         "event_type": "view", "value": 1.7976931348623157e308,
         "props": "{}"},
        {"event_id": 990041, "ts": TS0, "user_id": 990041,
         "event_type": "error", "value": -9e307, "props": "{}"},
        {"event_id": 990042, "ts": TS1, "user_id": 990042,
         "event_type": "view", "value": 4.9e-324, "props": "{}"},
        {"event_id": 990043, "ts": TS1, "user_id": 990043,
         "event_type": "view", "value": 5e-7, "props": "{}"},
        # square-overflow boundary twin of the lineitem pair, on the
        # column every percentile/stddev/corr behavioral query reads
        {"event_id": 990044, "ts": TS1, "user_id": 990044,
         "event_type": "view", "value": 1.4e154, "props": "{}"},
        # round-10 JSON value-domain probes (q46 family): the engines'
        # raw ->>/get_json_object strings agree byte-for-byte, but the
        # CASTS diverge — Spark's ANSI cast crashes on any non-integral
        # string (int32 overflow, 'abc', 'true', '[1]', '7.9'), and
        # Spark try_cast NULLs '7.9' where DuckDB TRY_CAST rounds to 8.
        # The integral-regex-gated TRY cast is the shared contract;
        # '{"k": "7"}' (a QUOTED integer) pins that both engines strip
        # the quotes and count it; the truncated bag rides json_valid.
        {"event_id": 990045, "ts": TS1, "user_id": 990045,
         "event_type": "view", "value": 1.0, "props": '{"k": 2147483648}'},
        {"event_id": 990046, "ts": TS1, "user_id": 990046,
         "event_type": "view", "value": 1.0, "props": '{"k": "abc"}'},
        {"event_id": 990047, "ts": TS1, "user_id": 990047,
         "event_type": "view", "value": 1.0, "props": '{"k": 7.9}'},
        {"event_id": 990048, "ts": TS1, "user_id": 990048,
         "event_type": "view", "value": 1.0, "props": '{"k": true}'},
        {"event_id": 990049, "ts": TS1, "user_id": 990049,
         "event_type": "view", "value": 1.0, "props": '{"k": [1]}'},
        {"event_id": 990050, "ts": TS1, "user_id": 990050,
         "event_type": "view", "value": 1.0, "props": '{"k": -5}'},
        {"event_id": 990051, "ts": TS1, "user_id": 990051,
         "event_type": "view", "value": 1.0, "props": '{"k":'},
        {"event_id": 990052, "ts": TS1, "user_id": 990052,
         "event_type": "view", "value": 1.0, "props": '{"k": "7"}'},
        # round-11 STRING-CONTENT probes on the events axis: NUL-bearing
        # event_type strings ride every keyed aggregation, the lag/
        # session sequence paths (q92 transitions, q151 trigrams), and
        # the streaming section's grouped state. One user's session
        # alternates an embedded-NUL type with real types so NUL bytes
        # land INSIDE q151's concatenated trigram strings (whose oracle
        # ranking hits DuckDB's NUL-blind large-sort at the LIMIT
        # boundary — ranked by hex(trigram) now, the q59 fix); a second
        # user emits "view"||chr(0) -> "view", two types differing only
        # by the invisible trailing NUL, which byte-based grouping must
        # keep as SEPARATE groups and a SEPARATE transition in both
        # engines.
        {"event_id": 990060, "ts": TS1, "user_id": 990060,
         "event_type": "v\x00w", "value": 1.0, "props": "{}"},
        {"event_id": 990061, "ts": TS1 + pd.Timedelta(minutes=5),
         "user_id": 990060, "event_type": "view", "value": 1.0,
         "props": "{}"},
        {"event_id": 990062, "ts": TS1 + pd.Timedelta(minutes=10),
         "user_id": 990060, "event_type": "v\x00w", "value": 1.0,
         "props": "{}"},
        {"event_id": 990063, "ts": TS1 + pd.Timedelta(minutes=15),
         "user_id": 990060, "event_type": "click", "value": 1.0,
         "props": "{}"},
        {"event_id": 990064, "ts": TS1 + pd.Timedelta(minutes=20),
         "user_id": 990060, "event_type": "v\x00w", "value": 1.0,
         "props": "{}"},
        {"event_id": 990065, "ts": TS1, "user_id": 990061,
         "event_type": "view\x00", "value": 1.0, "props": "{}"},
        {"event_id": 990066, "ts": TS1 + pd.Timedelta(minutes=5),
         "user_id": 990061, "event_type": "view", "value": 1.0,
         "props": "{}"},
        # round-11 constant-group probe, timeline form: three SAME-ts
        # events of a type unique to one user make every inter-event
        # gap of that type exactly 0 — avg(gap) = 0 AND stddev(gap) =
        # 0, so a coefficient-of-variation (stddev/avg) is the 0/0
        # degenerate case (the q101/q167 zero-variance class on the
        # GAP measure), and the tie rides the q41/q130 total-order
        # session paths for a NUL-bearing type at the same time.
        {"event_id": 990067, "ts": TS1, "user_id": 990062,
         "event_type": "z\x00ero", "value": 1.0, "props": "{}"},
        {"event_id": 990068, "ts": TS1, "user_id": 990062,
         "event_type": "z\x00ero", "value": 2.0, "props": "{}"},
        {"event_id": 990069, "ts": TS1, "user_id": 990062,
         "event_type": "z\x00ero", "value": 3.0, "props": "{}"},
        # round-12 CALENDAR-ARITHMETIC probes (judge item 5). The
        # session is UTC-pinned in both engines, so none of these
        # instants is special IN UTC — each becomes special only if an
        # engine consults a local-time rule somewhere (parse, trunc,
        # strftime, Java chrono vs ICU):
        # - US spring-forward gap instant (02:30 on 2024-03-10 does not
        #   exist in America/*), US fall-back ambiguous instant (01:30
        #   on 2024-11-03 occurs twice), EU spring-forward gap
        #   (2024-03-31 02:30) — a tz-leaking parse/trunc shifts or
        #   double-counts exactly these rows.
        {"event_id": 990070, "ts": pd.Timestamp("2024-03-10 02:30:00"),
         "user_id": 990070, "event_type": "view", "value": 1.0,
         "props": "{}"},
        {"event_id": 990071, "ts": pd.Timestamp("2024-11-03 01:30:00"),
         "user_id": 990071, "event_type": "view", "value": 1.0,
         "props": "{}"},
        {"event_id": 990072, "ts": pd.Timestamp("2024-03-31 02:30:00"),
         "user_id": 990072, "event_type": "view", "value": 1.0,
         "props": "{}"},
        # - leap-day midnight crossing (one user, 15-minute gap over
        #   2024-02-28 -> 02-29): session paths must MERGE the pair
        #   while to_date/date_trunc('day') paths split it on the
        #   correct sides of the leap day in both engines
        {"event_id": 990073, "ts": pd.Timestamp("2024-02-28 23:50:00"),
         "user_id": 990073, "event_type": "view", "value": 1.0,
         "props": "{}"},
        {"event_id": 990074, "ts": pd.Timestamp("2024-02-29 00:05:00"),
         "user_id": 990073, "event_type": "click", "value": 2.0,
         "props": "{}"},
        # - last microsecond of the leap day: date_trunc('day'/'hour')
        #   must keep it on 02-29 (a double-seconds rounding path would
        #   spill it to 03-01); also the OHLC close of its hour bucket
        {"event_id": 990075,
         "ts": pd.Timestamp("2024-02-29 23:59:59.999999"),
         "user_id": 990075, "event_type": "purchase", "value": 3.0,
         "props": "{}"},
        # - century leap day (valid only under the /400 rule: 1900-02-29
        #   does not exist, 2000-02-29 does)
        {"event_id": 990076, "ts": pd.Timestamp("2000-02-29 12:00:00"),
         "user_id": 990076, "event_type": "view", "value": 1.0,
         "props": "{}"},
        # - ISO-week-vs-week-of-year edge: 2024-12-30 is a Monday in
        #   ISO week 1 of 2025 but week-of-year 53 of 2024; rides the
        #   dayofweek cells (Spark dayofweek is 1=Sun, DuckDB 0=Sun —
        #   parity holds because 'how' is an injective GROUPING key,
        #   never an output value; this probe keeps that claim tested)
        #   and the 2024-01-01-anchored datediff/7 week buckets
        {"event_id": 990077, "ts": pd.Timestamp("2024-12-30 00:00:00"),
         "user_id": 990077, "event_type": "view", "value": 1.0,
         "props": "{}"},
        # - Sunday->Monday midnight boundary pair at the anchored-week
        #   edge (2024-01-01 is a Monday, so 01-08 00:00:00 is the
        #   first instant of anchored week 1 and 01-07 23:59:59 the
        #   last second of week 0): weekday/isodow off-by-one and any
        #   trunc-vs-floor split in the /7 bucketing lands exactly here
        {"event_id": 990078, "ts": pd.Timestamp("2024-01-07 23:59:59"),
         "user_id": 990078, "event_type": "view", "value": 1.0,
         "props": "{}"},
        {"event_id": 990079, "ts": pd.Timestamp("2024-01-08 00:00:00"),
         "user_id": 990078, "event_type": "click", "value": 2.0,
         "props": "{}"},
    ],
    "documents": [
        {"doc_id": None, "text": None, "lang": None, "source": None,
         "n_chars": None},
        {"doc_id": 990008, "text": "", "lang": "", "source": "",
         "n_chars": -1},
        {"doc_id": 990009, "text": "   \n\t  ", "lang": "xx",
         "source": "dirty://", "n_chars": 0},
        # TWO NULL-text docs with REAL ids: one NULL-text row alone can
        # never exercise the near-dup PAIRING path, which is where the
        # round-7 [NULL]-shingle defect lived (two NULL-text docs were
        # phantom J=1.0 near-dups in Spark while the oracle emitted no
        # pair — xxhash64/array_intersect treat NULL as a value)
        {"doc_id": 990017, "text": None, "lang": "xx",
         "source": "dirty://", "n_chars": None},
        {"doc_id": 990018, "text": None, "lang": None,
         "source": "dirty://", "n_chars": 0},
        # unicode case-folding / width probes: dotted capital I, sharp
        # s (and capital sharp s), final sigma, ligature, astral-plane
        # letters + emoji, combining mark, NBSP and zero-width space
        {"doc_id": 990016,
         "text": ("\u0130stanbul STRASSE stra\u00dfe \u1e9e "
                  "\u03a3\u0399\u03a3\u03a5\u03a6\u039f\u03a3 "
                  "ef\ufb03cient \U0001d4bd\U0001d4ee\U0001d4f5 "
                  "\U0001f30d\U0001f30d caf\u00e9 cafe\u0301 "
                  "a\u00a0b c\u200bd"),
         "lang": "xx", "source": "unicode", "n_chars": 60},
        # round-7 POSITIVE controls: planted TRUE duplicate pairs. The
        # negative controls only prove degenerate rows stay OUT of the
        # pairing paths; these prove real pairs come THROUGH them
        # identically in both engines (exact dedup keep-first, J=1.0
        # near-dups, cluster membership). Vocabulary is the corpus
        # pool, so the planted shingles share df mass with real docs
        # and travel the inverted-index/prefix-filter paths at
        # realistic selectivity. 990034 differs from the pair by ONE
        # middle token (J ~ 0.6 on 3-word shingles) to exercise
        # below-threshold scoring without fabricating a near-dup.
        # round-9 id-DOMAIN probes (the embeddings LONG_MIN/LONG_MAX
        # principle applied to documents): extreme doc_ids with
        # ordinary, vocabulary-DISJOINT text (no pair/cluster family
        # changes) — LONG_MIN rides min-id keep-first/dedup
        # representatives and every %-split's negative-remainder branch
        # (both engines: dividend-sign remainder, verified); LONG_MAX
        # is divisible by 7 so it travels the CDC update branch, and
        # sits one step under the synthesized-id (+1e6) namespace edge.
        {"doc_id": -(2**63),
         "text": "alpha beta gamma delta epsilon zeta theta kappa",
         "lang": "en", "source": "web", "n_chars": 47},
        {"doc_id": 2**63 - 1,
         "text": "omicron sigma tau upsilon phi chi psi omega",
         "lang": "en", "source": "web", "n_chars": 43},
        {"doc_id": 990030,
         "text": "spark window merge join filter table scan batch "
                 "stream data key order sort",
         "lang": "en", "source": "web", "n_chars": 77},
        {"doc_id": 990031,
         "text": "spark window merge join filter table scan batch "
                 "stream data key order sort",
         "lang": "en", "source": "dirty://", "n_chars": 77},
        {"doc_id": 990034,
         "text": "spark window merge join vector table scan batch "
                 "stream data key order sort",
         "lang": "en", "source": "web", "n_chars": 77},
        # identical twins of the 990016 unicode probe -> a 3-clique:
        # hashing/case-folding parity must hold on the PAIRING path
        # for non-ASCII bytes, not just per-row
        {"doc_id": 990032,
         "text": ("\u0130stanbul STRASSE stra\u00dfe \u1e9e "
                  "\u03a3\u0399\u03a3\u03a5\u03a6\u039f\u03a3 "
                  "ef\ufb03cient \U0001d4bd\U0001d4ee\U0001d4f5 "
                  "\U0001f30d\U0001f30d caf\u00e9 cafe\u0301 "
                  "a\u00a0b c\u200bd"),
         "lang": "xx", "source": "unicode", "n_chars": 60},
        {"doc_id": 990033,
         "text": ("\u0130stanbul STRASSE stra\u00dfe \u1e9e "
                  "\u03a3\u0399\u03a3\u03a5\u03a6\u039f\u03a3 "
                  "ef\ufb03cient \U0001d4bd\U0001d4ee\U0001d4f5 "
                  "\U0001f30d\U0001f30d caf\u00e9 cafe\u0301 "
                  "a\u00a0b c\u200bd"),
         "lang": "xx", "source": "unicode", "n_chars": 60},
        # round-10 LENGTH-domain probes: a ~29k-char document of
        # vocabulary-disjoint tokens (text-length paths \u2014 shingle
        # arrays, winnowing windows, quality ratios \u2014 at 100x the
        # corpus's length law without perturbing any pairing family:
        # every shingle is df=1), and a single unbroken 5k-char "word"
        # (tokenizer and char-gram paths where token length ~ doc
        # length; CJK text already probes no-whitespace scripts but
        # only at ~40 chars)
        {"doc_id": 990042,
         "text": " ".join(f"lw{i}q{(i * 7) % 997}z" for i in range(2500)),
         "lang": "en", "source": "web", "n_chars": 28605},
        {"doc_id": 990043,
         "text": "x" + "yqz" * 1666 + "w",
         "lang": "en", "source": "web", "n_chars": 5000},
        # round-11 STRING-CONTENT probes (seventh domain axis: ids,
        # timestamps, measures, dimensions, JSON values, lengths, now
        # string content). Lone UTF-16 surrogates are NOT plantable:
        # the parquet string type is validated UTF-8 and pyarrow,
        # DuckDB and Spark all reject them at the ingest boundary, so
        # that corruption class cannot reach a query — documented, not
        # probed. What IS representable:
        # NUL bytes (valid UTF-8 code point 0, hostile to C-string
        # paths): mid-token, token-final and token-initial — the \s+
        # tokenizer must keep "ab\x00cd" ONE token in both engines,
        # len/quality ratios must count it, and the planted IDENTICAL
        # TWIN sends NUL-bearing shingles down the dedup PAIRING paths
        # (round-7 principle). Planted via chr(0) splices (_sql_lit):
        # a raw NUL in a SQL literal unterminates DuckDB's parser.
        {"doc_id": 990044,
         "text": "ab\x00cd nul\x00 \x00lead probe token stream nul",
         "lang": "en", "source": "web", "n_chars": 39},
        {"doc_id": 990045,
         "text": "ab\x00cd nul\x00 \x00lead probe token stream nul",
         "lang": "en", "source": "dirty://", "n_chars": 39},
        # ZWJ inside shingle windows: MAN+ZWJ+WOMAN+ZWJ+GIRL is ONE
        # grapheme but FIVE code points; the sibling doc differs ONLY
        # by the two invisible U+200D. Both engines' string semantics
        # are code-point-based, so the pair must surface as a
        # high-Jaccard NEAR-dup and NEVER as an exact dup — and
        # char-shingle/winnowing windows must slice the ZWJ bytes
        # identically in both engines. 50 tokens with ONE differing
        # (emoji) token -> word-3-shingle J = 46/50 = 0.92, inside
        # q33's documented corpus invariant (every real near-dup pair
        # has J >= 0.88, where 16-band/4-row LSH collision probability
        # is >0.9998 — an earlier 8-token draft sat at J = 0.5, where
        # the ideal-output oracle legitimately out-recalls banding).
        # The filler tokens are vocabulary-disjoint (zj..w prefix), so
        # no other pairing family changes.
        {"doc_id": 990046,
         "text": ("family \U0001f468‍\U0001f469‍\U0001f467 zwj probe "
                  + " ".join(f"zj{i}x{(i * 13) % 89}w" for i in range(46))),
         "lang": "en", "source": "web",
         "n_chars": 23 + len(" ".join(f"zj{i}x{(i * 13) % 89}w" for i in range(46)))},
        {"doc_id": 990047,
         "text": ("family \U0001f468\U0001f469\U0001f467 zwj probe "
                  + " ".join(f"zj{i}x{(i * 13) % 89}w" for i in range(46))),
         "lang": "en", "source": "web",
         "n_chars": 21 + len(" ".join(f"zj{i}x{(i * 13) % 89}w" for i in range(46)))},
        # locale/special case folds beyond dotted-İ: KELVIN SIGN
        # (U+212A, engine lower() -> 'k'), ANGSTROM SIGN (U+212B ->
        # 'å'), a Cherokee pair (U+13A0/U+AB70 — casing added in
        # Unicode 8; older fold tables miss it), and a DESERET pair
        # (U+10400/U+10428 — an ASTRAL-plane case mapping that a
        # UTF-16-code-UNIT lowercase mangles). The repo's fold keys
        # are explicit translate alphabets (functions.text ascii/
        # extended), so all four must pass through UNFOLDED and
        # IDENTICALLY in both engines — the probe proves no engine
        # lower() leaks into any key path. Identical twins ride the
        # pairing paths.
        {"doc_id": 990048,
         "text": ("Kelvin Ångstrom Ꭰꭰ "
                  "\U00010400\U00010428 fold probe sigma"),
         "lang": "xx", "source": "unicode", "n_chars": 38},
        {"doc_id": 990049,
         "text": ("Kelvin Ångstrom Ꭰꭰ "
                  "\U00010400\U00010428 fold probe sigma"),
         "lang": "xx", "source": "unicode", "n_chars": 38},
        # whitespace-variety probe (the round-11 finding that forced
        # _WS_SQL): VERTICAL TAB separates tokens under Java/Python \s
        # but NOT under RE2's — bare '\s+' oracles kept
        # 'vt'||chr(11)||'split' as ONE token while Spark split it, a
        # silent divergence in every token-derived query. FF and CR
        # separators are agreement controls (both engines split); NEL
        # (U+0085) and LINE SEPARATOR (U+2028) sit INSIDE tokens as the
        # other direction's controls (both ASCII-\s engines keep
        # them). Identical twins ride the pairing paths.
        {"doc_id": 990050,
         "text": ("vt\x0bsplit ff\x0cized cr\rjoined "
                  "ne\x85l ls\u2028ep probe end"),
         "lang": "en", "source": "web", "n_chars": 47},
        {"doc_id": 990051,
         "text": ("vt\x0bsplit ff\x0cized cr\rjoined "
                  "ne\x85l ls\u2028ep probe end"),
         "lang": "en", "source": "dirty://", "n_chars": 47},
    ],
    "embeddings": [
        {"vec_id": None, "embedding": None, "label": None},
        {"vec_id": 990010, "embedding": [], "label": None},
        {"vec_id": 990015, "embedding": [0.25] * 63 + [INF], "label": 3},
        # TWO of each degenerate kind with REAL ids (round-7 principle:
        # one degenerate row can never exercise the PAIRING path —
        # two NULL/empty/non-finite vectors must not become cosine-1
        # neighbors, semantic-dup pairs, or shared k-means/PQ cells)
        {"vec_id": 990019, "embedding": None, "label": 1},
        {"vec_id": 990020, "embedding": [], "label": 2},
        {"vec_id": 990021, "embedding": [0.5] * 63 + [NAN], "label": 3},
        # round-7 POSITIVE controls: an identical pair (cosine exactly
        # 1.0 — the >= threshold boundary) and its antipodal twin
        # (cosine exactly -1.0). Components are exact binary quarters,
        # so dot products and norms are bit-identical in both engines
        # regardless of summation order; the pair must surface in
        # every cosine/semantic-dup/ANN family identically.
        {"vec_id": 990030,
         "embedding": [((i % 7) + 1) / 4.0 for i in range(64)],
         "label": 1},
        {"vec_id": 990031,
         "embedding": [((i % 7) + 1) / 4.0 for i in range(64)],
         "label": 2},
        {"vec_id": 990032,
         "embedding": [-((i % 7) + 1) / 4.0 for i in range(64)],
         "label": 1},
        # round-8 moment-domain probe: a FINITE huge-magnitude vector
        # (passes the cosine domain — non-zero finite norm — but sits
        # far outside pca_gram_moments' |x| < 16 bound, where the
        # floor(x_i*x_j*2^20) int64 encoding overflows: numpy wraps
        # silently to INT64_MIN garbage while DuckDB's ::BIGINT raises;
        # measured divergence, round-8 boundary probe). q187 must
        # exclude it in BOTH engines; cosine-family queries keep it as
        # an ordinary (large) vector.
        {"vec_id": 990035, "embedding": [1.0e10] * 64, "label": 2},
        # round-9 moment-domain positive control: TWO zero vectors —
        # KEPT by the PCA moment domain (a zero vector is a defined
        # moment input: it shifts the mean and covariance, and q187's
        # count/sums must include it in BOTH engines) while staying
        # EXCLUDED from every cosine/ANN family (zero norm = undefined
        # cosine); per the round-7 pairing principle, the zero PAIR
        # must not surface as a cosine-1 neighbor anywhere.
        {"vec_id": 990036, "embedding": [0.0] * 64, "label": 1},
        {"vec_id": 990037, "embedding": [0.0] * 64, "label": 2},
        # round-9 id-DOMAIN probes: LONG_MIN / LONG_MAX vec_ids with
        # ordinary in-domain vectors. LONG_MIN becomes the lowest-id
        # row, i.e. an IVF/k-means/PQ centroid-seed by both the
        # rank-based and the value-predicate (id < k) selections, and a
        # vec_id<5 query — so any arithmetic NEGATION used as an id
        # tie-break flip overflows loudly under ANSI (-LONG_MIN is
        # undefined; the operators use bitwise NOT, total on all 2^64
        # longs). Alternating-sign exact binary quarters: ~zero cosine
        # against the all-positive control family and against each
        # other, so no near-dup/ANN pair set changes.
        {"vec_id": -(2**63),
         "embedding": [0.25 if i % 2 == 0 else -0.25 for i in range(64)],
         "label": 1},
        {"vec_id": 2**63 - 1,
         "embedding": [0.25 if (i // 2) % 2 == 0 else -0.25 for i in range(64)],
         "label": 2},
        # round-10 DIMENSION-drift probes: a 16-dim vector with ordinary
        # values (schema drift / truncated write — the corruption class
        # a 100 TB ingest actually produces) and its 16-dim twin. A
        # deviant-dimension vector has a defined norm (it passes every
        # NULL/NaN/zero guard) but an UNDEFINED cosine against the
        # corpus dimension: Spark's zip_with pads the short side with
        # NULL (silent NULL cosine) while DuckDB's list_dot_product
        # raises; numpy GEMM/stack paths crash on ragged input. The
        # declared semantics (pair-level): vectors pair only within
        # their own dimension, so these two may pair with each other
        # (cosine 1.0 — a same-dim positive control) and with NOTHING
        # else. Per the round-7 pairing principle, TWO of them — one
        # deviant row alone can never exercise the pairing path.
        {"vec_id": 990040, "embedding": [0.25] * 16, "label": 1},
        {"vec_id": 990041, "embedding": [0.25] * 16, "label": 2},
    ],
}


def _sql_lit(v, typ: str) -> str:
    """DuckDB literal for a planted value. NaN/Inf must go through SQL
    literals: pandas->parquet silently rewrites float NaN as NULL
    (nan_as_null), which un-plants the NaN probes entirely."""
    if v is None:
        return f"NULL::{typ}"
    if isinstance(v, float) and math.isnan(v):
        return f"'NaN'::{typ}"
    if isinstance(v, float) and math.isinf(v):
        return f"'{'-' if v < 0 else ''}Infinity'::{typ}"
    if isinstance(v, float) and str(v) == "-0.0":
        return f"(-0.0)::{typ}"
    if isinstance(v, pd.Timestamp):
        return f"TIMESTAMP '{v}'"
    if isinstance(v, str):
        # control characters can't ride a quoted literal (a raw NUL
        # unterminates the parser's string scan) — splice them in as
        # chr(n) concatenations; verified NUL round-trips DuckDB ->
        # parquet -> both engines intact (round-11 strings axis)
        pieces: list[str] = []
        buf: list[str] = []

        def _flush() -> None:
            if buf:
                pieces.append("'" + "".join(buf).replace("'", "''") + "'")
                buf.clear()

        for ch in v:
            if ord(ch) < 32 and ch not in "\n\t":
                _flush()
                pieces.append(f"chr({ord(ch)})")
            else:
                buf.append(ch)
        _flush()
        return " || ".join(pieces) if pieces else "''"
    if isinstance(v, list):
        elem = typ[:-2] if typ.endswith("[]") else "DOUBLE"
        inner = ", ".join(_sql_lit(float(x), elem) for x in v)
        return f"[{inner}]::{typ}"
    # parenthesize: '::' binds tighter than unary minus, so a bare
    # -9223372036854775808::BIGINT parses as -(9223372036854775808::
    # BIGINT) and overflows before the sign applies (LONG_MIN probe)
    return f"({v})::{typ}"


def plant(dst: Path, rows_by_table: dict[str, list[dict]]) -> None:
    """Write a copy of the testdata under ``dst`` with
    ``rows_by_table[t]`` appended to each named table, typed by the
    source parquet schema and spelled as DuckDB literals; every other
    table is a symlink, which both engines follow."""
    dst = Path(dst)
    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            src = Path(SRC_SF) / f"{t}.parquet"
            if t not in rows_by_table:
                os.symlink(src, dst / f"{t}.parquet")
                continue
            types = dict(
                c[:2] for c in con.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{src}')"
                ).fetchall()
            )
            sel = f"SELECT * FROM read_parquet('{src}')"
            for row in rows_by_table[t]:
                sel += " UNION ALL SELECT " + ", ".join(
                    f"{_sql_lit(row.get(c), typ)} AS {c}" for c, typ in types.items()
                )
            con.execute(f"COPY ({sel}) TO '{dst / (t + '.parquet')}' (FORMAT parquet)")
    finally:
        con.close()


def build_dirty(dst: Path) -> None:
    plant(dst, DIRTY)


def _manifest_lit(v) -> str:
    """Canonical string form of a planted value for the manifest digest
    (repr is stable for None/int/str/list; NaN/Inf and Timestamps need
    explicit spelling so the digest is platform-independent)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, float) and math.isinf(v):
        return "-Inf" if v < 0 else "Inf"
    if isinstance(v, pd.Timestamp):
        return f"TS({v})"
    if isinstance(v, list):
        return "[" + ",".join(_manifest_lit(x) for x in v) + "]"
    return repr(v)


def manifest_digest() -> str:
    """Deterministic digest of the planted-row manifest. The dirty
    artifacts record it and the evidence gate recomputes it, so any edit
    to the DIRTY rows invalidates old sweep evidence and forces a
    re-run."""
    canon = ";".join(
        f"{t}:" + "|".join(
            ",".join(f"{c}={_manifest_lit(row[c])}" for c in sorted(row))
            for row in DIRTY[t]
        )
        for t in TESTDATA_TABLES
    )
    return hashlib.md5(canon.encode()).hexdigest()


#: deterministic single-row pick: lowest value of the table's FIRST
#: column (every testdata table leads with its key)
FIRST_COL = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}


def build_variant(dst: Path, variant: str) -> None:
    """Write the ``empty`` or ``single`` corpus, derived from the
    testdata through DuckDB so column types are exactly the testdata
    types (an empty pandas round-trip would widen them)."""
    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            sel = f"SELECT * FROM read_parquet('{SRC_SF}/{t}.parquet')"
            if variant == "empty":
                sel += " LIMIT 0"
            else:
                sel += f" ORDER BY {FIRST_COL[t]} NULLS LAST LIMIT 1"
            con.execute(f"COPY ({sel}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()


def spec_digest() -> str:
    """Digest of the empty/single derivation spec (source SF, tables,
    single-row pick): editing it invalidates committed evidence."""
    canon = json.dumps(
        {"src": SRC_SF, "tables": TESTDATA_TABLES, "first_col": FIRST_COL,
         "variants": ["empty", "single"]},
        sort_keys=True,
    )
    return hashlib.md5(canon.encode()).hexdigest()


#: corpus name -> (builder into an existing empty directory, digest of
#: the corpus spec that the artifact records as ``corpus_digest``)
CORPORA = {
    "dirty": (build_dirty, manifest_digest),
    "empty": (lambda dst: build_variant(dst, "empty"), spec_digest),
    "single": (lambda dst: build_variant(dst, "single"), spec_digest),
}


def artifact_stem(corpus: str, hostile: bool) -> str:
    """Artifact file names are ``<stem>_r<N>.json``: DIRTY_SWEEP,
    DIRTY_SWEEP_HOSTILE, EMPTY_SWEEP, SINGLE_SWEEP."""
    return f"{corpus.upper()}_SWEEP" + ("_HOSTILE" if hostile else "")


@contextlib.contextmanager
def hostile_layout(spark):
    """Run the block under HOSTILE_LAYOUT, then restore the session's
    previous values."""
    saved = {k: spark.conf.get(k) for k in HOSTILE_LAYOUT}
    for k, v in HOSTILE_LAYOUT.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def status(fn) -> dict:
    """Run one comparison and classify it: ``match`` when ``fn``
    returns (its return value, if any, is the detail), ``mismatch`` on
    an AssertionError, ``crash`` on any other exception."""
    try:
        out = fn()
    except AssertionError as ex:
        return {"status": "mismatch", "detail": str(ex)[:400]}
    except Exception as ex:  # noqa: BLE001 — a sweep records and keeps going
        return {"status": "crash", "detail": f"{type(ex).__name__}: {ex}"[:400]}
    return {"status": "match", "detail": "" if out is None else str(out)}


def _noted(label: str, rec: dict) -> dict:
    print(f"{label}: {rec['status'].upper()} {rec['detail'][:250]}", flush=True)
    return rec


#: Sentinel user for the streaming sweep: two far-future events advance
#: the watermark past every real session's end+gap (the committed
#: watermark lags a batch, hence TWO files); the sentinel's own
#: never-finalized session is excluded from both sides of each compare.
_SENTINEL_USER = -999888


def sweep_streaming(spark, dirty_dir: Path, work: Path) -> dict:
    """Run the streaming operators over the DIRTY events table (NULL ts /
    NULL keys / NaN / ±Inf values, the tied-timestamp clusters, the
    exact-2h session-boundary trio) and compare each against its batch
    analog on the IDENTICAL input — under whatever session layout the
    caller set (HOSTILE_LAYOUT composes here exactly as it does for the
    SQL surface; state-store partition count follows
    shuffle.partitions, so 7-partition state + tied keys is the
    streaming version of the tie-permuting regime).

    Streams are availableNow file-source runs with maxFilesPerTrigger=1:
    b0 = the dirty events (normalized through the same Catalog reader
    every batch query uses), b1/b2 = sentinel events 30/31 days after
    the corpus (watermark flush). Batch analogs read the SAME files
    back, so input bytes are identical by construction.

    Returns {op_name: {"status": "match"|"mismatch"|"crash"|"env_gated",
    "detail": ...}}.
    """
    import glob as _glob
    import time as _time

    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        session_windows,
    )
    from flight_delays_progetto_big_data_2024_spark.sources.readers import Catalog
    from flight_delays_progetto_big_data_2024_spark.streaming.joins import (
        stream_interval_join,
    )
    from flight_delays_progetto_big_data_2024_spark.streaming.stateful import (
        sessionize_stream,
    )
    from flight_delays_progetto_big_data_2024_spark.streaming.windowed import (
        stream_session_windows,
        stream_tumbling_counts,
        tumbling_counts,
    )
    from tests.oracle_utils import assert_pandas_parity

    results: dict[str, dict] = {}
    src = work / "stream_src"
    os.makedirs(src)

    ev = Catalog(spark, str(dirty_dir)).events.select(
        "event_id",
        # the Catalog rebuilds nanos as TIMESTAMP_NTZ; watermarks demand
        # TIMESTAMP — identical instants under the pinned UTC session
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    max_ts = ev.agg(F.max("ts")).first()[0]

    # Structured Streaming's INITIAL watermark is epoch 0 (1970-01-01):
    # a pre-epoch event time is already "late" in the very first batch
    # and every WATERMARKED stateful operator (dropDuplicatesWithin-
    # Watermark, sessionization, append-mode windowed aggs, interval
    # joins) silently drops it — a platform semantic, not an operator
    # bug (r9 ts-domain probe: the 1901 view). Batch analogs of
    # watermarked ops therefore mirror the watermark-VISIBLE domain
    # ts >= epoch (NULL ts keeps its own defined handling). Complete-
    # mode aggregations retain all state and do NOT drop late rows,
    # so the tumbling analog stays unfiltered.
    _EPOCH0 = F.lit("1970-01-01 00:00:00").cast("timestamp")

    def _wm_visible(df, ts_col: str = "ts"):
        return df.filter(F.col(ts_col).isNull() | (F.col(ts_col) >= _EPOCH0))

    def _drop(name: str, df, age_s: float) -> None:
        staging = str(work / f"stage_{name}")
        df.coalesce(1).write.parquet(staging)
        (part,) = _glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (_time.time() - age_s,) * 2)

    _drop("b0", ev, 30)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    for i, days in enumerate((30, 31)):
        # each sentinel file carries one row of EVERY event type the
        # split streams filter on: a watermark node only advances from
        # rows that REACH it, so a view-only sentinel would leave the
        # purchase/click sides' watermarks behind and the outer interval
        # join could never prove a real left row unmatched
        ts_i = (pd.Timestamp(max_ts) + pd.Timedelta(days=days)).to_pydatetime()
        _drop(
            f"b{i + 1}",
            spark.createDataFrame(
                [
                    (-999888001 - 10 * i - k, ts_i, _SENTINEL_USER, et, 0.0)
                    for k, et in enumerate(("view", "purchase", "click"))
                ],
                schema,
            ),
            20 - 5 * i,
        )

    batch = spark.read.parquet(str(src))  # identical bytes to the stream
    raw_schema = batch.schema

    def _run_stream(build, mode: str, name: str) -> list:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        collected: list = []

        def on_batch(df, _id):
            if mode == "complete":  # complete re-emits the FULL result
                collected.clear()
            collected.extend(df.collect())

        query = (
            build(stream)
            .writeStream.outputMode(mode)
            .option("checkpointLocation", str(work / f"ckpt_{name}"))
            .foreachBatch(on_batch)
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(600):
            query.stop()
            raise TimeoutError(f"{name} hit the 600s cap")
        return collected

    def _sessionize() -> None:
        rows = _run_stream(
            lambda s: sessionize_stream(s, gap_seconds=7200, watermark="0 seconds"),
            "update",
            "sessionize",
        )
        got = pd.DataFrame(
            [
                {
                    "user_id": r["user_id"],
                    "session_start": r["session_start"].strftime("%Y-%m-%d %H:%M:%S"),
                    "num_events": r["num_events"],
                    "total_value": r["total_value"],
                }
                for r in rows
                if r["closed"] and r["user_id"] != _SENTINEL_USER
            ]
        )
        got["total_value"] = got["total_value"].astype("float64")
        # batch analog shares the stream's defined semantics: NaN is
        # not a measurement (pre-normalized), gap boundary merges at
        # exactly +gap, totals rounded to 6
        ev_norm = _wm_visible(batch).withColumn(
            "value", F.when(~F.isnan("value"), F.col("value"))
        )
        want = (
            session_windows(ev_norm, gap="2 hours", scale=6)
            .filter(
                F.col("user_id").isNull()
                | (F.col("user_id") != _SENTINEL_USER)
            )
            .select("user_id", "session_start", "num_events", "total_value")
            .toPandas()
        )
        assert_pandas_parity(got, want)

    def split(df):
        """purchase (left) and click (right) sides of the interval joins"""
        left = df.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        right = df.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        return left, right

    def _interval_join() -> None:
        def build(s):
            left, right = split(s)
            return stream_interval_join(
                left, right, "user_id", "purchase_ts", "click_ts",
                max_delay="1 hour", watermark="2 hours",
            ).select("user_id", "purchase_id", "click_id")

        got = pd.DataFrame(
            [r.asDict() for r in _run_stream(build, "append", "ivjoin")],
            columns=["user_id", "purchase_id", "click_id"],
        )
        bl, br = split(_wm_visible(batch))
        bl, br = bl.filter(F.col("purchase_ts").isNotNull()), br.filter(
            F.col("click_ts").isNotNull()
        )
        want = (
            bl.join(
                br,
                (bl["user_id"] == br["user_id"])
                & (F.col("click_ts") >= F.col("purchase_ts"))
                & (
                    F.col("click_ts")
                    <= F.col("purchase_ts") + F.expr("INTERVAL 1 hour")
                ),
                "inner",
            )
            .drop(br["user_id"])
            .select("user_id", "purchase_id", "click_id")
            .toPandas()
        )
        assert_pandas_parity(got, want)

    def _tumbling() -> None:
        rows = _run_stream(
            lambda s: stream_tumbling_counts(
                s, window="1 hour", watermark="0 seconds"
            ),
            "complete",
            "tumbling",
        )
        got = pd.DataFrame([r.asDict() for r in rows])
        want = tumbling_counts(batch, "1 hour").toPandas()
        assert_pandas_parity(got, want)

    def _native_sessions() -> None:
        rows = _run_stream(
            lambda s: stream_session_windows(
                s, gap="2 hours", watermark="0 seconds"
            ),
            "append",
            "native_sess",
        )
        got = pd.DataFrame(
            [r.asDict() for r in rows if r["user_id"] != _SENTINEL_USER]
        )
        want = (
            session_windows(_wm_visible(batch), gap="2 hours")  # scale=4, the
            # stream_session_windows default — SAME code path
            .filter(
                F.col("user_id").isNull()
                | (F.col("user_id") != _SENTINEL_USER)
            )
            .toPandas()
        )
        assert_pandas_parity(got, want)

    def _interval_join_outer() -> None:
        """The delayed-null-emission path: an unmatched left row is
        emitted with NULL right columns only once the RIGHT watermark
        proves no match can arrive — exactly where state-eviction bugs
        live. The sentinel purchase/click rows advance both sides'
        watermarks past every real left_ts + delay, so the stream's
        final output must equal the batch LEFT join (sentinel user
        excluded from both sides of the compare)."""
        from flight_delays_progetto_big_data_2024_spark.streaming.joins import (
            stream_interval_join_outer,
        )

        def build(s):
            left, right = split(s)
            return stream_interval_join_outer(
                left, right, "user_id", "purchase_ts", "click_ts",
                max_delay="1 hour", watermark="2 hours",
            ).select("user_id", "purchase_id", "click_id")

        got = pd.DataFrame(
            [
                r.asDict()
                for r in _run_stream(build, "append", "ivjoin_outer")
                if r["user_id"] != _SENTINEL_USER
            ],
            columns=["user_id", "purchase_id", "click_id"],
        )
        bl, br = split(_wm_visible(batch))
        bl = bl.filter(
            F.col("purchase_ts").isNotNull()
            & (F.col("user_id") != _SENTINEL_USER)
        )
        br = br.filter(F.col("click_ts").isNotNull())
        want = (
            bl.join(
                br,
                (bl["user_id"] == br["user_id"])
                & (F.col("click_ts") >= F.col("purchase_ts"))
                & (
                    F.col("click_ts")
                    <= F.col("purchase_ts") + F.expr("INTERVAL 1 hour")
                ),
                "left_outer",
            )
            .drop(br["user_id"])
            .select("user_id", "purchase_id", "click_id")
            .toPandas()
        )
        assert_pandas_parity(got, want)

    def _dedup() -> None:
        """dropDuplicatesWithinWatermark with a horizon covering the
        whole corpus: the emitted KEY set must equal the batch distinct
        key set over non-NULL-ts rows, each key exactly once (which
        surviving ROW wins a within-batch tie is unspecified, so the
        compare is on keys, not payloads)."""
        from flight_delays_progetto_big_data_2024_spark.streaming.joins import (
            stream_dedup,
        )

        rows = _run_stream(
            lambda s: stream_dedup(
                s, ["user_id", "event_type"], watermark="90 days"
            ),
            "append",
            "dedup",
        )
        # NULL keys are real groups here — a None in a tuple breaks
        # bare sorted(), so sort with an explicit null-first key
        key = lambda t: (t[0] is None, t[0] or 0, t[1] is None, t[1] or "")
        got = sorted(
            (
                (r["user_id"], r["event_type"])
                for r in rows
                if r["user_id"] != _SENTINEL_USER
            ),
            key=key,
        )
        assert len(got) == len(set(got)), "a key was emitted twice"
        want = sorted(
            (
                (r["user_id"], r["event_type"])
                for r in _wm_visible(batch).filter(
                    F.col("ts").isNotNull()
                    & (
                        F.col("user_id").isNull()
                        | (F.col("user_id") != _SENTINEL_USER)
                    )
                )
                .select("user_id", "event_type")
                .distinct()
                .collect()
            ),
            key=key,
        )
        assert got == want, (
            f"key sets differ: stream-only={set(got) - set(want)} "
            f"batch-only={set(want) - set(got)}"
        )

    def _running_totals() -> None:
        """transformWithStateInPandas over the dirty events (NULL keys,
        NULL/NaN/±Inf values) vs the batch groupBy analog. Update mode
        re-emits a key's RUNNING row in every micro-batch that touches
        it, so the final emission per key is the full aggregate; the
        ``batches`` column depends on the file-split schedule and is
        excluded from the compare. NULL contract (round-7): a NULL key
        is its own group; NaN is not a measurement (counts toward n,
        not the total); an all-unmeasured key has a NULL total."""
        from flight_delays_progetto_big_data_2024_spark.streaming.stateful import (
            rocksdb_state_store,
            running_totals_stream,
        )

        with rocksdb_state_store(spark):
            rows = _run_stream(
                lambda s: running_totals_stream(s), "update", "running_totals"
            )
        got_all = pd.DataFrame(
            [
                {"user_id": r["user_id"], "n": r["n"], "total": r["total"],
                 "batches": r["batches"]}
                for r in rows
                if r["user_id"] != _SENTINEL_USER
            ],
            columns=["user_id", "n", "total", "batches"],
        )
        got = (
            got_all.sort_values("batches", kind="stable")
            .groupby("user_id", dropna=False)
            .tail(1)[["user_id", "n", "total"]]
            .reset_index(drop=True)
        )
        # batch analog: NaN→not-a-measurement before the sum (isnan is
        # False on NULL, so real NULLs pass through and sum skips them)
        want = (
            batch.withColumn(
                "mv", F.when(~F.isnan("value"), F.col("value"))
            )
            .filter(
                F.col("user_id").isNull()
                | (F.col("user_id") != _SENTINEL_USER)
            )
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("mv"), 6).alias("total"),
            )
            .toPandas()
        )
        assert_pandas_parity(got, want)

    ops = {
        "sessionize_stream_vs_batch": _sessionize,
        "stream_interval_join_vs_batch": _interval_join,
        "stream_interval_join_outer_vs_batch": _interval_join_outer,
        "stream_dedup_vs_batch": _dedup,
        "stream_tumbling_vs_batch": _tumbling,
        "stream_session_windows_vs_batch": _native_sessions,
        "running_totals_stream": _running_totals,
    }
    # TWS transport: run for real when a protobuf runtime is available
    # (natively or host-discovered via compat.protobuf_shim — main()
    # calls ensure_protobuf before the session launches); otherwise an
    # honest env gate, with the merge logic pinned by stub-state tests.
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        del ops["running_totals_stream"]
        results["running_totals_stream"] = _noted(
            "streaming/running_totals_stream",
            {
                "status": "env_gated",
                "detail": "transformWithStateInPandas requires google.protobuf "
                "(absent); merge/NULL/migration logic pinned by stub-state "
                "tests",
            },
        )
    for name, fn in ops.items():
        results[name] = _noted(f"streaming/{name}", status(fn))
    return results


def sweep(spark, corpus: str, only=(), hostile: bool = False) -> dict:
    """Build ``corpus`` in a fresh directory, compare every selected
    SQL-backed registered query with its oracle there (``only``: name
    prefixes, empty = all), and return the artifact record. A full dirty
    sweep also carries the streaming section. The corpus directory is
    removed on return."""
    from flight_delays_progetto_big_data_2024_spark.plans import registry
    from tests.oracle_utils import assert_query_parity, oracle_connection

    build, digest = CORPORA[corpus]
    work = Path(tempfile.mkdtemp(prefix=f"{corpus}_sweep_"))
    sf = work / "sf"
    sf.mkdir()
    queries: dict[str, dict] = {}
    try:
        build(sf)
        with hostile_layout(spark) if hostile else contextlib.nullcontext():
            with oracle_connection(str(sf)) as con:
                for name in registry.QUERIES:
                    if only and not name.startswith(tuple(only)):
                        continue
                    if name not in registry.ORACLE:
                        queries[name] = {"status": "rows_only_skipped", "detail": ""}
                        continue
                    queries[name] = _noted(name, status(
                        lambda: f"rows={assert_query_parity(spark, name, str(sf), con)}"
                    ))
            record = {
                "corpus": corpus,
                "hostile_layout": hostile,
                "sf": SRC_SF,
                "corpus_digest": digest(),
                "totals": {
                    s: sum(q["status"] == s for q in queries.values())
                    for s in ("match", "mismatch", "crash", "rows_only_skipped")
                },
                "queries": queries,
            }
            if corpus == "dirty" and not only:
                record["streaming"] = sweep_streaming(spark, sf, work / "stream")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return record


def is_clean(record: dict) -> bool:
    """No query and no streaming op mismatched or crashed."""
    return not any(
        r["status"] in ("mismatch", "crash")
        for section in ("queries", "streaming")
        for r in record.get(section, {}).values()
    )


def write_artifact(record: dict, out: Path) -> None:
    out.write_text(json.dumps(record, indent=1) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--corpus", choices=sorted(CORPORA), default="dirty")
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated query-name prefixes (a debugging pass: no "
        "streaming section, and no artifact)",
    )
    ap.add_argument("--hostile", action="store_true", help="run under HOSTILE_LAYOUT")
    ap.add_argument(
        "--out",
        default="",
        help="write the evidence artifact, named <stem>_r<N>.json after "
        "the corpus (full sweeps only)",
    )
    args = ap.parse_args()
    only = [s for s in args.only.split(",") if s]
    stem = artifact_stem(args.corpus, args.hostile)
    if args.out and only:
        ap.error("--out requires a FULL sweep (drop --only)")
    if args.out and not re.fullmatch(rf"{stem}_r\d+\.json", Path(args.out).name):
        ap.error(f"this sweep's artifact is named {stem}_r<N>.json")

    from flight_delays_progetto_big_data_2024_spark.compat.protobuf_shim import (
        ensure_protobuf,
    )
    from flight_delays_progetto_big_data_2024_spark.session import get_spark

    # must precede the session: workers inherit the JVM's env, and the
    # TWS protobuf discovery travels via PYTHONPATH (no-op when no host
    # runtime exists — the streaming section then records env_gated)
    ensure_protobuf()
    record = sweep(get_spark(f"{args.corpus}-sweep"), args.corpus, only, args.hostile)

    print("\n==== SUMMARY ====")
    print(" ".join(f"{k}={v}" for k, v in record["totals"].items()))
    for section in ("queries", "streaming"):
        for name, r in record.get(section, {}).items():
            if r["status"] in ("mismatch", "crash"):
                print(f"{r['status'].upper()} {name}: {r['detail']}")
    if args.out:
        write_artifact(record, Path(args.out))
        print(f"wrote {args.out}")
    return 0 if is_clean(record) else 1


if __name__ == "__main__":
    sys.exit(main())
