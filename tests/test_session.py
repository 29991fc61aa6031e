"""The session's shuffle-width rule (session.shuffle_width): one shuffle
partition per task slot unless the caller, the environment or an
``extra_conf`` entry names a width."""

import pytest

from flight_delays_progetto_big_data_2024_spark.session import (
    SHUFFLE_PARTITIONS,
    get_spark,
    shuffle_width,
)

ENV = "SPARK_GRAFT_SHUFFLE_PARTITIONS"


@pytest.fixture
def no_env(monkeypatch):
    monkeypatch.delenv(ENV, raising=False)
    return monkeypatch


def test_default_width_is_the_task_slots(no_env):
    assert shuffle_width(6) == 6
    assert shuffle_width(32) == 32


def test_argument_wins_over_env_and_slots(no_env):
    no_env.setenv(ENV, "5")
    assert shuffle_width(6, 3) == 3


def test_env_wins_over_slots(no_env):
    no_env.setenv(ENV, "5")
    assert shuffle_width(6) == 5


def test_extra_conf_entry_wins_over_everything(no_env):
    no_env.setenv(ENV, "5")
    assert shuffle_width(6, 3, {SHUFFLE_PARTITIONS: "7"}) == 7


def test_get_spark_applies_the_rule_to_the_live_session(spark, no_env):
    """Through get_spark itself (which reuses the shared session): with
    nothing set the width is defaultParallelism; each override wins.
    The shared session's width is restored afterwards."""
    prev = spark.conf.get(SHUFFLE_PARTITIONS)
    slots = spark.sparkContext.defaultParallelism
    try:
        assert get_spark().conf.get(SHUFFLE_PARTITIONS) == str(slots)
        assert get_spark(shuffle_partitions=3).conf.get(SHUFFLE_PARTITIONS) == "3"
        no_env.setenv(ENV, "5")
        assert get_spark().conf.get(SHUFFLE_PARTITIONS) == "5"
        got = get_spark(shuffle_partitions=3, extra_conf={SHUFFLE_PARTITIONS: "7"})
        assert got.conf.get(SHUFFLE_PARTITIONS) == "7"
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, prev)
