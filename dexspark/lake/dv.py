"""Deletion vectors — positional deletes without file rewrites.

A deletion vector (DV) records *row positions* of a data file that are
physically deleted without rewriting the file (≙ Delta Lake deletion
vectors / Iceberg positional delete files). The commit cost of a
predicate DELETE drops from O(candidate-file bytes rewritten) to
O(matched rows written as (path, pos) pairs); the payload bytes are
purged later when compaction folds the file (reads apply the DV, so a
compacted rewrite simply never re-emits the rows).

On-disk shape: one parquet DIRECTORY per delete commit,
``data/<token>/dv/``, holding ``(path: string, pos: long)`` rows —
``path`` is the data file path relative to the table root, ``pos`` the
parquet row index within that file (Spark's ``_metadata.row_index``,
stable across scans because parquet row order is physical). Every
:class:`~dexspark.lake.manifest.DataFile` updated by the commit points
at the directory via its ``dv`` field; a later delete touching the
same file writes a NEW directory containing that file's full position
set (old ∪ new), so one referenced directory per file is always
complete and time travel keeps reading the old directory from old
manifests. Directories are distributed writes — positions never pass
through the driver.

Read integration lives in ``LakeTable._scan_files``: when any scanned
file carries a DV, rows are anti-joined against the union of the
referenced DV directories on (path, pos). The manifest's per-file
``dv_count`` bounds the join's small side, so under a threshold the
anti-join broadcasts.
"""

from __future__ import annotations

import os
import threading
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

# extra columns _scan_files attaches while positions are in play
FP_COL = "_dv_path"
POS_COL = "_dv_pos"

DV_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("pos", LongType(), False),
    ]
)

# Spark lists the paths of a new file relation with a distributed job
# (one task per path) once there are more than this conf's value (32 by
# default); see read_listed
DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_DISCOVERY_LOCK = threading.Lock()

# total recorded positions under which the anti-join's DV side is
# broadcast; above it a plain shuffled anti-join (keyed by file path)
# is the scale-safe shape
BROADCAST_DV_MAX = 4_000_000


def relpath_expr(table_dir: str):
    """Column expression turning ``_metadata.file_path`` into a
    table-relative path.

    Spark renders local paths as ``file:`` + absolute path. The
    primary branch strips the known prefix exactly; the fallback (a
    different scheme spelling, e.g. a moved table read through a
    symlink) re-anchors at the LAST ``/data/`` component — correct for
    every layout this writer produces (commit tokens are hex, so
    ``/data/`` cannot reappear below the table root).
    """
    prefix = "file:" + os.path.abspath(table_dir) + "/"
    fp = F.col("_metadata.file_path")
    return (
        F.when(
            fp.startswith(prefix), F.expr(
                f"substring(_metadata.file_path, {len(prefix) + 1})"
            )
        )
        .otherwise(
            F.concat(
                F.lit("data/"), F.substring_index(fp, "/data/", -1)
            )
        )
    )


def read_listed(
    spark: SparkSession, schema: StructType, paths: list[str]
) -> DataFrame:
    """Parquet relation over ``paths`` that a manifest already lists.
    Every lake parquet relation (``LakeTable._scan_files``,
    ``read_dvs``) is built here, so planning a read runs no Spark job.

    Above the session's discovery threshold Spark would list the paths
    with an N-task job, although the manifest is already the file
    index. So for more paths than the threshold, the threshold is
    raised to the path count only while the relation is built, under a
    module lock, and the prior setting is restored afterwards (unset
    again if it was unset). At or below the threshold nothing is
    touched. Trade-off: the driver then stats the N listed files one
    after another instead of in parallel tasks. On local disk that is
    cheaper at every size measured: building a read over 1,024 files
    took 0.25-0.33 s this way against 3.5-4.1 s with the listing job
    (local[4] on a 4-vCPU VM); on a remote object store the serial
    stats would grow with N."""
    reader = spark.read.schema(schema)
    if len(paths) <= int(spark.conf.get(DISCOVERY_THRESHOLD)):
        return reader.parquet(*paths)
    with _DISCOVERY_LOCK:
        prior = spark.conf.get(DISCOVERY_THRESHOLD, None)
        spark.conf.set(DISCOVERY_THRESHOLD, str(len(paths)))
        try:
            return reader.parquet(*paths)
        finally:
            if prior is None:
                spark.conf.unset(DISCOVERY_THRESHOLD)
            else:
                spark.conf.set(DISCOVERY_THRESHOLD, prior)


def read_dvs(
    spark: SparkSession, table_dir: str, dv_dirs: Iterable[str]
) -> DataFrame:
    """Union of the given DV directories as (path, pos) rows."""
    dirs = sorted(set(dv_dirs))
    if not dirs:
        return spark.createDataFrame([], DV_SCHEMA)
    return read_listed(
        spark, DV_SCHEMA, [os.path.join(table_dir, d) for d in dirs]
    )


def anti_join_dv(
    scanned: DataFrame, dv: DataFrame, total_positions: int
) -> DataFrame:
    """Drop scanned rows whose (file, position) appears in the DV set.

    ``scanned`` must carry ``FP_COL``/``POS_COL``. The DV side is
    broadcast when the manifest-recorded position total is small —
    the common steady state, since compaction folds DVs away."""
    if total_positions <= BROADCAST_DV_MAX:
        dv = F.broadcast(dv)
    return scanned.join(
        dv,
        on=(scanned[FP_COL] == dv["path"]) & (scanned[POS_COL] == dv["pos"]),
        how="left_anti",
    )


def write_dv_dir(positions: DataFrame, table_dir: str, token: str) -> str:
    """Write (path, pos) rows as this commit's DV directory; returns
    the table-relative directory path. Distributed write — sized to a
    handful of output files since DV rows are ~tens of bytes each."""
    rel = os.path.join("data", token, "dv")
    out = positions.select(
        F.col("path").cast("string").alias("path"),
        F.col("pos").cast("long").alias("pos"),
    )
    n = max(1, min(8, out.sparkSession.sparkContext.defaultParallelism // 4))
    out.repartition(n, "path").write.parquet(
        os.path.join(table_dir, rel), mode="errorifexists"
    )
    return rel
