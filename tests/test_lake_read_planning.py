"""Read planning runs no Spark job (lake/dv.py::read_listed,
LakeTable._key_hashes) and costs few driver↔JVM round trips
(LakeTable._align, _resolve_mor).

Invariants under test:
1. building ``LakeTable.read()`` over more live files than Spark's
   parallel-discovery threshold (32) schedules 0 jobs before its
   action, with and without deletion-vector files;
2. hashing point-lookup keys (``_buckets_for_keys``,
   ``buckets_for_values``) schedules 0 jobs;
3. the session's discovery threshold is exactly what it was after a
   read: unset stays unset, a user value stays, and a read whose
   construction fails (a manifest-listed file deleted from disk)
   surfaces Spark's own error and still restores it;
4. building a point read takes a bounded number of py4j round trips,
   on a COW table and on a MOR table with an outstanding delta, and
   each extra payload column adds at most 2;
5. column names that need SQL quoting (a space, a dot, a backtick)
   read, point-read, compact and diff correctly through the
   SQL-text projections.
"""

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dexspark.lake import dv as lake_dv
from dexspark.lake.changes import table_changes
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


# Round trips to BUILD ``read(filters=[(key, "=", v)])`` on the
# 8-column table below were 619 (COW) and 1,151 (MOR) when every
# projected column was a PySpark Column, and each extra payload
# column added 41 and 91; the bounds are a third of those totals.
MAX_POINT_READ_CALLS = {"cow": 206, "mor": 383}
EXTRA_COLS = 32


def _payload_table(spark, path, names, mor):
    """Keyed table ``k, seq, *names`` with 40 rows over 4 buckets;
    ``mor`` adds one outstanding delta for ``k1``."""
    schema = StructType(
        [StructField("k", StringType()), StructField("seq", LongType())]
        + [StructField(c, StringType()) for c in names]
    )
    t = LakeTable.create(spark, path, schema, bucket_key="k", num_buckets=4)
    t.append(
        spark.createDataFrame(
            [(f"k{i}", i, *[f"{c}{i}" for c in names]) for i in range(40)],
            schema,
        )
    )
    if mor:
        ch = StructType(
            schema.fields
            + [StructField("op", StringType()), StructField("lsn", LongType())]
        )
        t.merge(
            spark.createDataFrame(
                [("k1", 100, *["new" for _ in names], "U", 100)], ch
            ),
            key_cols=["k"],
            strategy="mor",
        )
    return t


def _point_read_calls(t, py4j_calls):
    t.read(filters=[("k", "=", "k1")])  # first-use lookups are not per read
    c0 = py4j_calls()
    df = t.read(filters=[("k", "=", "k1")])
    n = py4j_calls() - c0
    return n, df


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_point_read_builds_in_few_round_trips(
    spark, tmp_path, mode, py4j_calls, spark_jobs
):
    mor = mode == "mor"
    t = _payload_table(spark, str(tmp_path / "t"), [f"c{i}" for i in range(6)], mor)
    j0 = spark_jobs()
    n, df = _point_read_calls(t, py4j_calls)
    assert spark_jobs() == j0
    assert n <= MAX_POINT_READ_CALLS[mode], n
    (row,) = df.collect()
    assert row.k == "k1" and row.seq == (100 if mor else 1)
    assert row.c5 == ("new" if mor else "c51")


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_round_trips_per_payload_column(spark, tmp_path, mode, py4j_calls):
    mor = mode == "mor"
    narrow = _payload_table(
        spark, str(tmp_path / "n"), [f"c{i}" for i in range(6)], mor
    )
    wide = _payload_table(
        spark, str(tmp_path / "w"), [f"c{i}" for i in range(6 + EXTRA_COLS)], mor
    )
    n_narrow, _ = _point_read_calls(narrow, py4j_calls)
    n_wide, df = _point_read_calls(wide, py4j_calls)
    assert n_wide - n_narrow <= 2 * EXTRA_COLS, (n_narrow, n_wide)
    assert df.count() == 1


ODD_NAMES = ["a b", "x.y", "q`t"]


def test_mor_columns_that_need_quoting(spark, tmp_path):
    t = _payload_table(spark, str(tmp_path / "t"), ODD_NAMES, mor=False)
    v0 = t.current_version()
    ch = StructType(
        t.schema().fields
        + [StructField("op", StringType()), StructField("lsn", LongType())]
    )
    t.merge(
        spark.createDataFrame(
            [
                ("k1", 100, "A", "X", "Q", "U", 100),
                ("k2", 2, None, None, None, "D", 101),
                ("k99", 99, "a", "x", "q", "U", 102),
            ],
            ch,
        ),
        key_cols=["k"],
        strategy="mor",
    )
    assert any(f.kind == "delta" for f in t.manifest().files)
    want = {
        f"k{i}": (i, f"a b{i}", f"x.y{i}", f"q`t{i}")
        for i in range(40)
        if i != 2
    }
    want["k1"] = (100, "A", "X", "Q")
    want["k99"] = (99, "a", "x", "q")

    def rows(df):
        return {r[0]: tuple(r[1:]) for r in df.collect()}

    assert rows(t.read()) == want
    assert rows(t.read(filters=[("k", "=", "k1")])) == {"k1": want["k1"]}
    assert rows(t.read(columns=["k", "x.y"])) == {
        k: (v[2],) for k, v in want.items()
    }
    changes = {
        r["k"]: (r["op"], r["q`t"]) for r in table_changes(t, v0).collect()
    }
    assert changes == {"k1": ("U", "Q"), "k2": ("D", "q`t2"), "k99": ("I", "q")}
    t.compact()
    assert not any(f.kind == "delta" for f in t.manifest().files)
    assert rows(t.read()) == want
