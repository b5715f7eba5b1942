import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from miaplpy_spark.session import get_spark

    # a caller's own JVM options, as perfbench passes them: they must go
    # in beside session.JIT_OPTIONS (tests/test_jit_policy.py)
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.driver.extraJavaOptions":
                              "-XX:-UsePerfData"})
    yield s
    s.stop()


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="miaplpy_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def spark_conf(spark):
    """``set(key, value)`` on the session conf for one test; every key
    it touched is restored (or unset) afterwards, pass or fail."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_conf
    for key, old in saved.items():
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
