import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from alphalens_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    yield s


def count_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted under a job
    group; the caller's job-group properties are put back afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup("job_ceiling", "job_ceiling")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup("job_ceiling"))
        out = fn()
        # the tracker is fed by the listener bus: drain it before reading
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        after = set(sc.statusTracker().getJobIdsForGroup("job_ceiling"))
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    return out, len(after - before)


def rows_to_dict(rows, key_fields, val_field):
    out = {}
    for r in rows:
        k = tuple(r[f] for f in key_fields)
        out[k if len(k) > 1 else k[0]] = r[val_field]
    return out
