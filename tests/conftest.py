import threading

import pytest

from de_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small parallelism for test latency; perfbench measures at its own settings
    s = get_spark("de_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def in_job_group(spark):
    """``run(group, fn)`` calls ``fn`` on a fresh thread in its own
    Spark job group and returns ``(fn's value, jobs the group ran)``."""
    sc = spark.sparkContext

    def run(group, fn):
        out = {}

        def body():
            sc.setJobGroup(group, group)
            try:
                out["value"] = fn()
            except Exception as e:  # re-raised on the test's thread
                out["error"] = e

        t = threading.Thread(target=body)
        t.start()
        t.join()
        if "error" in out:
            raise out["error"]
        return out["value"], len(sc.statusTracker().getJobIdsForGroup(group))

    return run
