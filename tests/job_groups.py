"""Count the Spark jobs a block of driver code launches.

Jobs are tagged through the thread's ``spark.jobGroup.id`` local
property and read back from the status tracker. ``job_group`` restores
the enclosing group on exit, so a nested block's jobs stay out of the
outer block's count.
"""

import contextlib


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag every job the block launches from this thread with ``group``."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)


def jobs_in_group(spark, group: str) -> int:
    """Jobs tagged with ``group``, once the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
