"""The session's shuffle-width rule (session.shuffle_width): one shuffle
partition per task slot unless an ``extra_conf`` entry or the context's
SparkConf names a width."""

from flight_delays_progetto_big_data_2024_spark.session import (
    SHUFFLE_PARTITIONS,
    get_spark,
    shuffle_width,
)


def test_default_width_is_the_task_slots():
    assert shuffle_width(6) == 6
    assert shuffle_width(32) == 32
    assert shuffle_width(6, {SHUFFLE_PARTITIONS: None}) == 6


def test_sparkconf_width_wins_over_slots():
    """A width the deployment set (spark-submit ``--conf``, read back
    from the SparkConf) is honoured, not overwritten by the slots."""
    assert shuffle_width(4, {SHUFFLE_PARTITIONS: "32"}) == 32


def test_extra_conf_entry_wins_over_everything():
    """get_spark merges ``extra_conf`` over the SparkConf before asking
    the rule, so the merged entry is the one the helper sees."""
    assert shuffle_width(6, {SHUFFLE_PARTITIONS: "7"}) == 7


def test_get_spark_applies_the_rule_to_the_live_session(spark):
    """Through get_spark itself (which reuses the shared session): with
    no extra_conf the width is the SparkConf's, else defaultParallelism;
    an extra_conf entry wins. The shared session's width is restored
    afterwards."""
    prev = spark.conf.get(SHUFFLE_PARTITIONS)
    sc = spark.sparkContext
    want = sc.getConf().get(SHUFFLE_PARTITIONS) or str(sc.defaultParallelism)
    try:
        assert get_spark().conf.get(SHUFFLE_PARTITIONS) == want
        got = get_spark(extra_conf={SHUFFLE_PARTITIONS: "7"})
        assert got.conf.get(SHUFFLE_PARTITIONS) == "7"
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, prev)
