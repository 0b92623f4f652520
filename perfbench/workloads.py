"""Workload definitions and the change-log backlog each one replays.

A workload is a fixed-size backlog of change-log segments plus the
engine configuration it is replayed under. Sizes do not depend on
``--seconds`` or on how fast the engine runs, so two commits measured
with the same seed do exactly the same work.

The log is built from ``dexspark.cdc.generator.gen_change_log``, one
generator call per segment, and written as one directory per segment
(``batch_seq=<b>``) with strictly increasing modification times: the
streaming file source orders files by modification time, so with
``maxFilesPerTrigger`` equal to the files per segment each trigger
consumes exactly one segment.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

PAYLOAD_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
LOG_DDL = "lsn long, op string, batch_seq long, " + PAYLOAD_DDL
PAYLOAD_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

# workload seeds are reduced modulo this before they reach the
# generator; fingerprints.json records every residue
SEED_SPACE = 32

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str  # "stream" (CdcStreamReplay) or "direct" (apply_changes loop)
    strategy: str  # "cow" | "mor"
    num_buckets: int
    events_per_segment: int
    segments: int  # timed backlog
    warmup_segments: int  # replayed before the timed window, every round
    warmup_events_per_segment: int
    files_per_segment: int
    n_convs: int
    hot_conv_pct: int
    bad_role_pct: int = 0
    quarantine: bool = False
    rollup: bool = False
    maintain_policy: dict | None = None
    # per read phase; 30 samples put the tail at p66.7 with ten beyond it
    point_reads: int = 30
    scans: int = 2  # per read phase
    # replayed again at local[1] in the traced run (per-layer scaling)
    scaling: bool = False
    # listed in BENCHMARK.json; the others run only on request
    benchmarked: bool = True

    def scaled(self, factor: float) -> "Workload":
        """Same shape, fewer events (smoke tests)."""
        from dataclasses import replace

        return replace(
            self,
            events_per_segment=max(200, int(self.events_per_segment * factor)),
            warmup_events_per_segment=max(200, int(self.warmup_events_per_segment * factor)),
            n_convs=max(20, int(self.n_convs * factor)),
            segments=min(self.segments, 3),
            point_reads=min(self.point_reads, 3),
            scans=1,
        )


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="bulk_cow",
            why=(
                "few large COW triggers (150k events, 64 buckets, 5% hot conv): "
                "parallel validate/dedup/merge-write stages dominate, driver-serial layers are small"
            ),
            kind="stream",
            strategy="cow",
            num_buckets=64,
            events_per_segment=150_000,
            segments=2,
            warmup_segments=1,
            warmup_events_per_segment=20_000,
            files_per_segment=4,
            n_convs=3_000,
            hot_conv_pct=5,
            scaling=True,
        ),
        Workload(
            name="trickle_mor",
            why=(
                "many small MOR triggers (10k events, 1 file) with quarantine, 2% bad_role, "
                "a rollup view and in-trigger maintenance: driver-serial layers dominate"
            ),
            kind="stream",
            strategy="mor",
            num_buckets=16,
            events_per_segment=10_000,
            segments=3,
            warmup_segments=1,
            warmup_events_per_segment=10_000,
            files_per_segment=1,
            n_convs=500,
            hot_conv_pct=5,
            bad_role_pct=2,
            quarantine=True,
            rollup=True,
            maintain_policy={},
        ),
        Workload(
            name="read_mixed",
            why=(
                "direct apply_changes + maintain on a MOR table, then seeded point reads "
                "and a scan after every apply: read cost next to writes, no stream engine"
            ),
            kind="direct",
            strategy="mor",
            num_buckets=16,
            events_per_segment=10_000,
            segments=4,
            warmup_segments=1,
            warmup_events_per_segment=10_000,
            files_per_segment=1,
            n_convs=500,
            hot_conv_pct=5,
            point_reads=6,
            scans=1,
            benchmarked=False,
        ),
    )
}


def gen_seed(seed: int) -> int:
    return seed % SEED_SPACE


def _segment(spark: SparkSession, w: Workload, seed: int, b: int, n: int, lsn0: int) -> DataFrame:
    from dexspark.cdc.generator import gen_change_log

    seg = gen_change_log(
        spark,
        n,
        n_convs=w.n_convs,
        seed=gen_seed(seed) * 1009 + b,
        n_batches=1,
        hot_conv_pct=w.hot_conv_pct,
        bad_role_pct=w.bad_role_pct,
        partitions=w.files_per_segment,
    )
    return seg.withColumn("lsn", F.col("lsn") + F.lit(lsn0))


def segment_sizes(w: Workload) -> list[int]:
    """Events per segment, warm-up segments first."""
    return [w.warmup_events_per_segment] * w.warmup_segments + [
        w.events_per_segment
    ] * w.segments


def segment_dirs(w: Workload, log_dir: str) -> list[str]:
    return [os.path.join(log_dir, f"batch_seq={b}") for b in range(len(segment_sizes(w)))]


def write_log(spark: SparkSession, w: Workload, seed: int, log_dir: str) -> list[str]:
    """Write every segment under ``log_dir``; returns the segment dirs
    in replay order. LSNs are globally increasing across segments."""
    from functools import reduce

    segs, lsn0 = [], 0
    for b, n in enumerate(segment_sizes(w)):
        segs.append(_segment(spark, w, seed, b, n, lsn0).withColumn("batch_seq", F.lit(b).cast("long")))
        lsn0 += n
    # one job: every generator partition writes one file of its segment
    reduce(DataFrame.unionAll, segs).write.partitionBy("batch_seq").parquet(log_dir)
    dirs = segment_dirs(w, log_dir)
    # strictly increasing mtimes per segment: the file source sorts by
    # modification time, so trigger k reads exactly segment k
    base = int(os.path.getmtime(dirs[0])) - len(dirs) - 10
    for b, d in enumerate(dirs):
        for p in glob.glob(os.path.join(d, "*")):
            os.utime(p, (base + b, base + b))
    return dirs


def read_log(spark: SparkSession, log_dir: str) -> DataFrame:
    """The written log as a batch DataFrame (with ``batch_seq``)."""
    from pyspark.sql.types import _parse_datatype_string

    return spark.read.schema(_parse_datatype_string(LOG_DDL)).parquet(log_dir)


def fingerprint(log: DataFrame) -> list[int]:
    """[rows, checksum] of a log: an order-independent sum of per-row
    xxhash64 over every column, exact in decimal arithmetic."""
    cols = ["lsn", "op", "batch_seq", *PAYLOAD_COLS]
    row = log.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [int(row["n"]), int(row["h"] or 0)]


def fingerprint_key(w: Workload, seed: int) -> str:
    return f"{w.name}/{w.events_per_segment}x{w.segments}/{gen_seed(seed)}"


def recorded_fingerprint(w: Workload, seed: int) -> list[int] | None:
    try:
        with open(FINGERPRINTS) as fh:
            table = json.load(fh)
    except FileNotFoundError:
        return None
    return table.get(fingerprint_key(w, seed))
