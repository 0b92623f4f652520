import shutil
import tempfile
import threading

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


@pytest.fixture()
def py4j_calls(spark, monkeypatch):
    """``py4j_calls()`` reads how many commands this thread has sent
    to the JVM since the fixture started: the difference of two calls
    is the number of driver↔JVM round trips between them. Releases of
    JVM objects are not counted: py4j's finalizer thread sends those
    on its own schedule."""
    from py4j.clientserver import ClientServerConnection

    me = threading.get_ident()
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            sent[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return lambda: sent[0]
