"""The session's shuffle-width rule (session.shuffle_width): one shuffle
partition per task slot unless an ``extra_conf`` entry or the context's
SparkConf names a width; and its codegen cache, which must hold a warm
pass's generated classes."""

from flight_delays_progetto_big_data_2024_spark.observe import observe
from flight_delays_progetto_big_data_2024_spark.plans import registry
from flight_delays_progetto_big_data_2024_spark.session import (
    SHUFFLE_PARTITIONS,
    get_spark,
    release_caches,
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


#: Headline queries whose generated code is the same on every run. At
#: sf0.001 their first pass compiles 131 classes on a fresh session
#: (local[4] and local[8]), more than Spark's stock 100-entry codegen
#: cache holds.
WARM_SUBSET = (
    "q01_popular_nations_avg_delay",
    "q04_popular_routes_avg_delay",
    "q07_shipped_vs_received_by_nation",
    "q13_return_ratio_by_priority",
    "q17_top_customers_per_nation",
    "q39_tumbling_hourly_events",
    "q43_purchase_asof_last_click",
    "q69_promo_window_shipments",
)


def test_warm_pass_compiles_nothing(spark, sf_dir):
    """A second noop pass over the subset reuses every generated class.
    The codegen cache is an LRU; a pass cycling through more classes
    than it holds misses on every lookup, so with the stock 100 entries
    this pass recompiles its whole working set. Pinned by what Janino
    compiles, not by reading the conf back: the cache size is a static
    conf that binds only if set before the JVM's first codegen."""

    def noop_pass() -> int:
        with observe(spark) as rec:
            for name in WARM_SUBSET:
                registry.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                release_caches(spark)
        return rec.compiles

    noop_pass()
    assert noop_pass() == 0
