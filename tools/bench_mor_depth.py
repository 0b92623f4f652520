"""Read-amplification curve for merge-on-read: table read latency as a
function of outstanding delta depth (delta commits per bucket since
the last compaction), and where compaction flattens it.

This is the empirical justification for ``compact_delta_depth`` (the
delta-depth trigger of ``LakeTable.maintain``, which a streaming
replay runs after every batch via ``maintain_policy``): MOR commits are
O(batch), but every outstanding delta adds files the read-time
max-LSN resolve must fold, so read cost grows with depth until a
compaction folds deltas back into base. The trigger should sit where
the marginal read-cost slope exceeds the amortized compaction cost —
this tool measures exactly that curve.

Method: replay N change batches into a MOR table with NO compaction,
timing a full ``read().count()`` after each batch (depth = batches so
far, every batch touches every bucket at this key density); then
``compact()`` and time the read again (the flattened point). Each
timing is best-of-``trials`` on a warm JVM.

Usage: python tools/bench_mor_depth.py [n_events] [n_batches] [trials]
Appends a disclosure block to BENCH/BASELINE_mor.md when run with
DEXSPARK_MOR_DEPTH_WRITE=1.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql.types import _parse_datatype_string  # noqa: E402

from dexspark.cdc import apply_changes  # noqa: E402
from dexspark.cdc.generator import gen_change_log  # noqa: E402
from dexspark.lake import LakeTable  # noqa: E402
from dexspark.session import get_spark  # noqa: E402

PAYLOAD = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def timed_read(table, trials: int) -> tuple[float, int]:
    best, n = float("inf"), 0
    for _ in range(trials):
        t0 = time.perf_counter()
        n = table.read().count()
        best = min(best, time.perf_counter() - t0)
    return best, n


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark("dexspark-mor-depth")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="dexspark_mord_")
    rows = []
    try:
        table = LakeTable.create(
            spark,
            os.path.join(d, "t"),
            _parse_datatype_string(PAYLOAD),
            "conv_id",
            num_buckets=32,
        )
        log = gen_change_log(
            spark, n_events, n_convs=2_000, n_batches=n_batches
        ).persist()
        log.count()
        # warm-up: JVM + codegen on an equivalent read path
        timed_read(table, 1)
        for b in range(n_batches):
            apply_changes(
                table,
                log.filter(F.col("batch_seq") == b),
                batch_id=f"d{b}",
                strategy="mor",
            )
            sec, n = timed_read(table, trials)
            rows.append((b + 1, round(sec, 2), n))
            print(f"depth={b + 1:>3} read={sec:.2f}s rows={n}", flush=True)
        t0 = time.perf_counter()
        table.compact()
        compact_sec = time.perf_counter() - t0
        sec, n = timed_read(table, trials)
        rows.append(("0 (after compact)", round(sec, 2), n))
        print(
            f"compact={compact_sec:.2f}s; depth=0 read={sec:.2f}s rows={n}",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()

    lines = [
        "",
        f"MOR read-amplification curve (round 4, local[32], {n_events:,} "
        f"events / {n_batches} delta batches over 32 buckets, every batch "
        "touches every bucket; full read().count(), best of "
        f"{trials} on a warm JVM):",
        "",
        "| outstanding delta depth | read wall | rows |",
        "|---|---|---|",
    ]
    for depth, sec, n in rows:
        lines.append(f"| {depth} | {sec}s | {n:,} |")
    lines.append(
        f"\nCompaction itself took {compact_sec:.2f}s — the amortization "
        "question `maintain(compact_delta_depth=...)` answers: trigger compaction when "
        "(marginal read slope x reads between compactions) exceeds that "
        "one-off cost. The depth-0 row shows the read returning to "
        "base-only cost after folding."
    )
    block = "\n".join(lines) + "\n"
    print(block)
    if os.environ.get("DEXSPARK_MOR_DEPTH_WRITE") == "1":
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCH", "BASELINE_mor.md"), "a") as f:
            f.write(block)
        print("appended to BENCH/BASELINE_mor.md")


if __name__ == "__main__":
    main()
