"""Two-cluster-size scaling evidence (BASELINE.json north rule).

Runs the identical CDC replay job at multiple parallelism levels on the
same input and reports throughput at each plus scaling efficiency
``eff(N→4N) = thr_4N / (4 * thr_N)`` for every N→4N pair. Writes
BENCH/BASELINE.md.

Two confounds of single-VM local mode are controlled explicitly:

1. **Co-tenant noise**: the sandbox VM shows multi-second interference
   spikes (identical runs varying 3-5x). Each level runs ``trials``
   times and the BEST run is compared — best-of-N measures the plan,
   not the neighbors.
2. **Machine ceiling**: a pure-Python multiprocessing workload (zero
   Spark, zero shuffle, embarrassingly parallel) is measured at the
   same core counts to calibrate what *any* job can achieve on this
   VM — shared memory bandwidth, SMT, and thermal effects cap even
   perfect-parallel code below 1.0. The job's efficiency is reported
   raw and relative to that ceiling.

Usage: python tools/bench_scaling.py [n_events] [trials]
Env: DEXSPARK_SCALE_LEVELS="2,8,32" to override the core levels.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_cdc_replay  # noqa: E402
from dexspark.session import get_spark  # noqa: E402

LEVELS = tuple(
    int(x)
    for x in os.environ.get("DEXSPARK_SCALE_LEVELS", "2,8,32").split(",")
)
# merge strategy for the measured job (cow | mor) — the north rule's
# efficiency criterion applies to whichever write path is the headline
STRATEGY = os.environ.get("DEXSPARK_SCALE_STRATEGY", "cow")


def _cpu_task(n: int) -> int:
    h = hashlib.sha256(b"dexspark")
    for _ in range(n):
        h = hashlib.sha256(h.digest())
    return h.digest()[0]


def calibrate(levels=LEVELS, per_proc_iters: int = 3_000_000, trials: int = 3) -> dict:
    """Embarrassingly-parallel CPU ceiling: P processes each hashing a
    fixed chain; perfect scaling would keep wall time flat as P grows
    (total work scales with P). Pool creation + a warm-up map happen
    OUTSIDE the timed section so the measurement is pure compute."""
    out = {}
    for p in levels:
        best = float("inf")
        with mp.Pool(p) as pool:
            pool.map(_cpu_task, [1000] * p)  # warm the workers
            for _ in range(trials):
                t0 = time.perf_counter()
                pool.map(_cpu_task, [per_proc_iters] * p)
                best = min(best, time.perf_counter() - t0)
        out[p] = {"sec": round(best, 3), "work_per_sec": round(p * per_proc_iters / best, 1)}
    return out


def _jvm_cpu_secs() -> float:
    """Total CPU seconds (user+sys) consumed so far by java children
    of this process — the whole-JVM cost of the level, GC/JIT/shuffle
    service threads included."""
    import glob

    me = str(os.getpid())
    total = 0.0
    tck = os.sysconf("SC_CLK_TCK")
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(d + "/stat") as fh:
                parts = fh.read().split()
            if parts[3] == me and "java" in parts[1]:
                total += (int(parts[13]) + int(parts[14])) / tck
        except OSError:
            continue
    return total


def run_at(cores: int, n_events: int, trials: int) -> dict:
    spark = get_spark(f"dexspark-scale-{cores}", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up to exclude JVM/codegen cold start from the comparison
    run_cdc_replay(spark, max(10_000, n_events // 32), strategy=STRATEGY)
    times = []
    cpu_secs = []
    applied = 0
    for i in range(trials):
        c0 = _jvm_cpu_secs()
        elapsed, applied = run_cdc_replay(spark, n_events, strategy=STRATEGY)
        cpu_secs.append(_jvm_cpu_secs() - c0)
        times.append(elapsed)
        print(
            f"  local[{cores}] trial {i}: {elapsed:.1f}s "
            f"{n_events / elapsed:,.0f} ev/s "
            f"(jvm {cpu_secs[-1]:.0f} cpu-s)",
            file=sys.stderr,
            flush=True,
        )
    spark.stop()
    # CPU seconds of the best-wall trial, so both figures describe one run
    best_i = min(range(trials), key=times.__getitem__)
    best = times[best_i]
    best_cpu = cpu_secs[best_i]
    return {
        "cores": cores,
        "sec": round(best, 3),
        "all_trials_sec": [round(t, 1) for t in times],
        "jvm_cpu_secs": [round(c, 1) for c in cpu_secs],
        "events": n_events,
        "applied": applied,
        "events_per_sec": round(n_events / best, 1),
        # plan quality independent of how many machine cores the JVM
        # actually touched: work done per CPU second consumed
        "events_per_cpu_sec": round(n_events / best_cpu, 1),
    }


def _run_level(cores: int, n_events: int, trials: int) -> dict:
    """Run one parallelism level, pinned to exactly ``cores`` machine
    cores when taskset is available (DEXSPARK_SCALE_PIN=0 disables).

    Pinning matters for the honesty of the N→4N comparison: local[N]
    bounds TASK slots at N, but the JVM's GC / JIT / shuffle service
    threads are unconfined — measured here, an unpinned local[2]
    replay consumes ~2.6 machine cores (245 jvm cpu-s over 93 s wall),
    silently inflating the small-N baseline and understating wall
    scaling efficiency. Pinning the whole process tree to N cores is
    what a real cluster's executor container does (cgroup cpuset), so
    the pinned numbers are the faithful two-cluster-size simulation.
    """
    import shutil as _sh
    import subprocess

    if os.environ.get("DEXSPARK_SCALE_PIN", "1") == "0" or not _sh.which(
        "taskset"
    ):
        return run_at(cores, n_events, trials)
    cpu_list = f"0-{cores - 1}" if cores > 1 else "0"
    cmd = [
        "taskset", "-c", cpu_list, sys.executable, os.path.abspath(__file__),
        "--worker", str(cores), str(n_events), str(trials),
    ]
    env = dict(os.environ, DEXSPARK_SCALE_STRATEGY=STRATEGY)
    proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"pinned worker for {cores} cores failed")
    for line in proc.stdout.splitlines():
        if line.startswith("WORKER_RESULT "):
            out = json.loads(line[len("WORKER_RESULT "):])
            out["pinned_cpus"] = cpu_list
            return out
    raise RuntimeError(f"pinned worker for {cores} cores: no result line")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        cores, n_events, trials = (int(x) for x in sys.argv[2:5])
        out = run_at(cores, n_events, trials)
        print("WORKER_RESULT " + json.dumps(out), flush=True)
        return

    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    with open("/proc/loadavg") as fh:
        loadavg = fh.read().split()[0]

    print("calibrating machine ceiling...", file=sys.stderr, flush=True)
    ceiling = calibrate()
    for p, c in ceiling.items():
        print(f"  cpu-ceiling P={p}: {c['sec']}s", file=sys.stderr, flush=True)

    results = {c: _run_level(c, n_events, trials) for c in LEVELS}

    def eff(lo: int, hi: int) -> float:
        return results[hi]["events_per_sec"] / (
            (hi / lo) * results[lo]["events_per_sec"]
        )

    def cpu_eff(lo: int, hi: int) -> float:
        return results[hi]["events_per_cpu_sec"] / results[lo][
            "events_per_cpu_sec"
        ]

    def ceil_eff(lo: int, hi: int) -> float:
        return ceiling[hi]["work_per_sec"] / ((hi / lo) * ceiling[lo]["work_per_sec"])

    pairs = [
        (lo, hi)
        for lo, hi in zip(LEVELS, LEVELS[1:])
        if hi == 4 * lo
    ]
    out = {
        "levels": results,
        "cpu_ceiling": ceiling,
        "loadavg_at_launch": loadavg,
        "scaling": {
            f"{lo}->{hi}": {
                "efficiency": round(eff(lo, hi), 3),
                "cpu_normalized_efficiency": round(cpu_eff(lo, hi), 3),
                "cpu_ceiling_efficiency": round(ceil_eff(lo, hi), 3),
                "efficiency_vs_ceiling": round(eff(lo, hi) / ceil_eff(lo, hi), 3),
            }
            for lo, hi in pairs
        },
    }
    print(json.dumps(out))

    rows = "\n".join(
        f"| local[{r['cores']}]{' pinned ' + r['pinned_cpus'] if 'pinned_cpus' in r else ''} "
        f"| {r['sec']} | {r['all_trials_sec']} | {r['events_per_sec']:,} "
        f"| {r['jvm_cpu_secs']} | {r['events_per_cpu_sec']:,} |"
        for r in results.values()
    )
    srows = "\n".join(
        f"| {lo}→{hi} (N→4N) | {out['scaling'][f'{lo}->{hi}']['efficiency']} "
        f"| {out['scaling'][f'{lo}->{hi}']['cpu_normalized_efficiency']} "
        f"| {out['scaling'][f'{lo}->{hi}']['cpu_ceiling_efficiency']} "
        f"| {out['scaling'][f'{lo}->{hi}']['efficiency_vs_ceiling']} |"
        for lo, hi in pairs
    )
    os.makedirs("BENCH", exist_ok=True)
    # append-only: BENCH/BASELINE.md accumulates per-round disclosure
    # blocks curated by hand — a "w" rewrite here once destroyed that
    # history, so the tool now only ever adds its own block
    out_md = "BENCH/BASELINE.md" if STRATEGY == "cow" else f"BENCH/BASELINE_{STRATEGY}.md"
    with open(out_md, "a") as fh:
        fh.write(
            f"""

---
# bench_scaling.py run — two-parallelism scaling evidence

North rule: throughput scaling efficiency >= 0.8 from N to 4N
executors, evidenced in-sandbox by the identical job at two
parallelism levels on the same input (no real cluster available).

Job: end-to-end CDC replay (Structured-Streaming tail over parquet log
segments -> validate -> max-LSN dedup with map-side partial
aggregation -> bucketed {STRATEGY.upper()} merge), {n_events:,} change events, seed
42, 64 buckets, 5% hot-key skew, 4 log segments x 32 files consumed
in one availableNow trigger. Warm-up run excluded; best of {trials}
trials per level (the sandbox VM shows 3-5x noise spikes from
co-tenant load, so best-of-N measures the plan, not the neighbors).
Loadavg at launch: {loadavg}. Each level runs in its own process
PINNED to exactly N machine cores (taskset) — local[N] alone bounds
only TASK slots, and the JVM's GC/JIT/shuffle service threads
otherwise spill onto extra cores (an unpinned local[2] replay
measures ~2.6 machine cores of JVM cpu time per wall second),
silently inflating the small-N baseline. Pinning is what a real
cluster's executor container does (cgroup cpuset).

| parallelism | wall sec (best) | all trials (sec) | events/sec | jvm cpu-s per trial | events per cpu-s |
|---|---|---|---|---|---|
{rows}

| pair | wall efficiency | cpu-normalized efficiency | pure-CPU ceiling on this VM | wall eff / ceiling |
|---|---|---|---|---|
{srows}

"cpu-normalized efficiency" is throughput per JVM CPU-second at 4N
divided by the same at N — how much MORE total work the plan needs
per event as parallelism grows (shuffle fan-out, stragglers, GC). It
is immune to both co-tenant interference and the service-thread
artifact, so it is the cleanest plan-scalability signal this VM can
produce; wall efficiency remains the headline number the north rule
names. The "pure-CPU ceiling" column is an embarrassingly-parallel
multiprocessing hash chain (no Spark, no shuffle, no shared state)
measured at the same core counts: the maximum wall efficiency ANY
workload can exhibit on this VM at that core-count step (shared
memory bandwidth + SMT — the box reports 32 hardware threads, so
8→32 crosses the physical-core boundary).

Caveats: single-JVM local mode shares one driver, one disk, and the OS
page cache between "executors"; shuffle is in-process, and the
driver-side micro-batch orchestration (planning + collect actions per
batch) is a fixed serial cost that a real cluster amortizes over far
larger batches. On a real 4N-executor cluster the same plan shape
applies (bucket-pruned merge, broadcast config joins, partial-agg
dedup); these numbers evidence plan scalability, not absolute cluster
throughput.
"""
        )


if __name__ == "__main__":
    main()
