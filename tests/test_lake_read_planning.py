"""Read planning runs no Spark job (lake/dv.py::read_listed,
LakeTable._key_hashes).

Invariants under test:
1. building ``LakeTable.read()`` over more live files than Spark's
   parallel-discovery threshold (32) schedules 0 jobs before its
   action, with and without deletion-vector files;
2. hashing point-lookup keys (``_buckets_for_keys``,
   ``buckets_for_values``) schedules 0 jobs;
3. the session's discovery threshold is exactly what it was after a
   read: unset stays unset, a user value stays, and a read whose
   construction fails (a manifest-listed file deleted from disk)
   surfaces Spark's own error and still restores it.
"""

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dexspark.lake import dv as lake_dv
from dexspark.lake.table import LakeTable

SCHEMA = StructType(
    [StructField("k", StringType()), StructField("seq", IntegerType())]
)
N_BUCKETS = 40  # > the default threshold of 32, one file per bucket


@pytest.fixture()
def wide_table(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, SCHEMA, bucket_key="k", num_buckets=N_BUCKETS
    )
    t.append(
        spark.createDataFrame([(f"k{i}", i) for i in range(400)], SCHEMA)
    )
    assert len(t.manifest().files) > 32
    return t


@pytest.fixture()
def restore_threshold(spark):
    prior = spark.conf.get(lake_dv.DISCOVERY_THRESHOLD, None)
    yield
    if prior is None:
        spark.conf.unset(lake_dv.DISCOVERY_THRESHOLD)
    else:
        spark.conf.set(lake_dv.DISCOVERY_THRESHOLD, prior)


def test_read_over_many_files_plans_without_jobs(wide_table, spark_jobs):
    j0 = spark_jobs()
    df = wide_table.read()
    assert spark_jobs() == j0
    assert df.count() == 400


def test_read_with_dv_files_plans_without_jobs(wide_table, spark_jobs):
    wide_table.delete_where([("seq", "<", 100)], strategy="dv")
    m = wide_table.manifest()
    assert len(m.files) > 32 and sum(1 for f in m.files if f.dv) > 32
    j0 = spark_jobs()
    df = wide_table.read()
    assert spark_jobs() == j0
    assert df.count() == 300


def test_key_hashing_runs_no_job(wide_table, spark_jobs):
    m = wide_table.manifest()
    j0 = spark_jobs()
    kb = wide_table._buckets_for_keys(m, ["k7"])
    bs = wide_table.buckets_for_values(["k1", "k2", "k3"])
    assert spark_jobs() == j0
    assert set(kb) == {N_BUCKETS} and len(bs) >= 1
    assert wide_table.read(filters=[("k", "=", "k7")]).count() == 1


def test_threshold_stays_unset(spark, wide_table, restore_threshold):
    spark.conf.unset(lake_dv.DISCOVERY_THRESHOLD)
    wide_table.read()
    assert spark.conf.get(lake_dv.DISCOVERY_THRESHOLD, None) is None


def test_user_threshold_is_restored(
    spark, wide_table, restore_threshold, spark_jobs
):
    spark.conf.set(lake_dv.DISCOVERY_THRESHOLD, "7")
    j0 = spark_jobs()
    wide_table.read()
    assert spark_jobs() == j0
    assert spark.conf.get(lake_dv.DISCOVERY_THRESHOLD, None) == "7"


def test_failed_read_surfaces_error_and_restores_threshold(
    spark, wide_table, restore_threshold
):
    gone = os.path.join(wide_table.table_dir, wide_table.manifest().files[0].path)
    os.remove(gone)
    for prior in (None, "7"):
        if prior is None:
            spark.conf.unset(lake_dv.DISCOVERY_THRESHOLD)
        else:
            spark.conf.set(lake_dv.DISCOVERY_THRESHOLD, prior)
        with pytest.raises(AnalysisException) as exc:
            wide_table.read()
        assert exc.value.getCondition() == "PATH_NOT_FOUND"
        assert os.path.basename(gone) in str(exc.value)
        assert spark.conf.get(lake_dv.DISCOVERY_THRESHOLD, None) == prior
