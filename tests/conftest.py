import shutil
import tempfile

import pytest

from dexspark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dexspark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def tmp_table_dir():
    d = tempfile.mkdtemp(prefix="dexspark_tbl_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs()`` reads the scheduler's next job id, the counter
    perfbench's tracer reads too: the difference of two calls is the
    number of Spark jobs scheduled between them."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(sched.nextJobId())
