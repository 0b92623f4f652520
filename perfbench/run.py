#!/usr/bin/env python3
"""CDC replay benchmark for dexspark.

One workload per process, on ``local[N]`` with N = min(4, nproc); each
workload is a closed loop in which one client replays a pre-generated
change-log backlog (see ``workloads.py`` and ``README.md``).

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, summary table
    python3 perfbench/run.py --write-manifest            # regenerate BENCHMARK.json
    python3 perfbench/run.py --record-fingerprints       # regenerate fingerprints.json

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs one traced round and reports the per-layer metrics
and the tracer's own overhead; for workloads marked ``scaling`` it also
replays the same log at ``local[1]`` in a child process and reports
per-layer 1→N scaling.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DRIVER_HEAP = "1g"


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc), so set-up
    time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


T_PROCESS = process_start_time()

# --------------------------------------------------------------- metrics
# name -> (unit, better, bound); every workload reports every one
# timings get the widest bound: on a shared 4-vCPU machine whole runs
# drift by 10-15% together, whatever the seed
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "ingest_events_per_s": ("events/s", "higher", 0.25),
    "batch_latency_p50_s": ("s", "lower", 0.25),
    "batch_latency_tail_s": ("s", "lower", 0.25),
    "point_read_p50_s": ("s", "lower", 0.25),
    "point_read_tail_s": ("s", "lower", 0.25),
    "scan_p50_s": ("s", "lower", 0.25),
    "stored_bytes_per_row": ("bytes/row", "lower", 0.1),
    "peak_driver_rss_mb": ("MB", "lower", 0.1),
}

# spans whose self time is also read at 1 and N cores
SCALING_LAYERS = [
    "streaming.replay",
    "bench.apply_loop",
    "cdc.apply",
    "lake.ledger",
    "lake.quarantine_append",
    "lake.merge",
    "lake.merge.view",
    "lake.manifest.commit",
    "lake.maintain",
    "lake.compact",
    "lake.matview.refresh",
    "lake.read.point",
    "lake.read.scan",
]

PER_LAYER = {
    "streaming.triggers": ("count", "lower"),
    "streaming.trigger_overhead_s": ("s", "lower"),
    "sources.rows_read_per_event": ("ratio", "lower"),
    "cdc.apply.self_s": ("s", "lower"),
    "cdc.apply.spark_jobs": ("count", "lower"),
    "cdc.validate.rejected": ("count", "lower"),
    "cdc.dedup.applied_per_valid": ("ratio", "lower"),
    "lake.merge.self_s": ("s", "lower"),
    "lake.merge.bytes_written": ("bytes", "lower"),
    "lake.merge.rows_written_per_change": ("ratio", "lower"),
    "lake.quarantine_append_s": ("s", "lower"),
    "lake.matview.refresh_s": ("s", "lower"),
    "lake.maintain_s": ("s", "lower"),
    "lake.maintain.buckets_compacted": ("count", "lower"),
    "lake.maintain.bytes_rewritten": ("bytes", "lower"),
    "lake.ledger_s": ("s", "lower"),
    "lake.manifest.read_root_calls_per_trigger": ("count", "lower"),
    "lake.manifest.read_root_calls_first": ("count", "lower"),
    "lake.manifest.read_root_calls_last": ("count", "lower"),
    "lake.manifest.read_manifest_calls_per_trigger": ("count", "lower"),
    "lake.manifest.read_manifest_calls_first": ("count", "lower"),
    "lake.manifest.read_manifest_calls_last": ("count", "lower"),
    "lake.manifest.commit_s": ("s", "lower"),
    "lake.commit.retries": ("count", "lower"),
    "lake.read.files_per_point": ("count", "lower"),
    "lake.read.delta_depth": ("count", "lower"),
    "lake.read.scan_s": ("s", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.ingest_events_per_s": ("events/s", "higher"),
    "trace.overhead_share": ("ratio", "lower"),
    "trace.self_time_closure": ("ratio", "higher"),
    "trace.unattributed_share": ("ratio", "lower"),
    "trace.spans": ("count", "lower"),
    **{
        f"scaling.{layer}.{m}": (u, b)
        for layer in SCALING_LAYERS
        for m, u, b in (
            ("self_s_1core", "s", "lower"),
            ("self_s_ncore", "s", "lower"),
            ("efficiency", "ratio", "higher"),
        )
    },
    "scaling.total.efficiency": ("ratio", "higher"),
}

def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would fall under
    the median, so the tail is then the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def manifest_doc() -> dict:
    from workloads import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values() if w.benchmarked],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()],
    }


# ------------------------------------------------------------ the run
class Run:
    """One workload in this process: set-up, rounds, checks, metrics."""

    def __init__(self, args):
        from workloads import WORKLOADS

        self.args = args
        self.w = WORKLOADS[args.workload]
        if args.scale != 1.0:
            self.w = self.w.scaled(args.scale)
        self.cores = args.cores
        self.work = os.path.join(WORK_ROOT, f"{self.w.name}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.t_first_timed: float | None = None
        # pooled over rounds
        self.events_timed = 0
        self.wall_timed = 0.0
        self.batch_lat: list[float] = []
        self.point_lat: list[float] = []
        self.scan_lat: list[float] = []

    # -- bookkeeping
    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def start_timed(self) -> None:
        if self.t_first_timed is None:
            self.t_first_timed = time.time()
            print(f"# first timed event at {self.t_first_timed - T_PROCESS:.2f}s", flush=True)

    # -- set-up
    def setup(self) -> None:
        self.start_spark()
        print(f"# spark session up at {time.time() - T_PROCESS:.2f}s", flush=True)
        self.build_log()
        print(f"# log written and fingerprinted at {time.time() - T_PROCESS:.2f}s", flush=True)

    def start_spark(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["DEXSPARK_DRIVER_MEM"] = DRIVER_HEAP
        # local[N] means N concurrent tasks: no SMT heuristic
        os.environ["DEXSPARK_TASK_CPUS"] = "1"
        os.environ["DEXSPARK_COMMIT_STORE"] = "posix"
        import tempfile

        tempfile.tempdir = tmp
        from dexspark.session import get_spark
        from tracing import ProgressListener

        self.spark = get_spark(
            f"perfbench-{self.w.name}",
            master=f"local[{self.cores}]",
            extra_conf={
                # a fixed-size heap: no resizing mid-run, steadier RSS and
                # GC; no hsperfdata file, which the JVM keeps under /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    def build_log(self) -> None:
        import random

        from workloads import fingerprint, read_log, recorded_fingerprint, segment_dirs, write_log

        if self.args.log_dir:  # the scaling child replays its parent's log
            self.log_dir = self.args.log_dir
            self.segment_dirs = segment_dirs(self.w, self.log_dir)
        else:
            self.log_dir = os.path.join(self.work, "log")
            self.segment_dirs = write_log(self.spark, self.w, self.args.seed, self.log_dir)
        self.log = read_log(self.spark, self.log_dir)
        if not self.args.scaling_child:
            self.fingerprint = fingerprint(self.log)
            want = recorded_fingerprint(self.w, self.args.seed)
            self.op(
                want == self.fingerprint,
                f"log fingerprint {self.fingerprint} != recorded {want}",
            )
        rng = random.Random(self.args.seed)
        self.keys = [f"conv_{rng.randrange(self.w.n_convs)}" for _ in range(self.w.point_reads)]

    # -- one round: fresh table, warm-up, timed replay, reads, checks
    def new_tables(self, rd: str):
        from pyspark.sql.types import _parse_datatype_string

        from dexspark.cdc.validate import REASON_COL
        from dexspark.lake.matview import AggViewSpec, create_agg_view
        from dexspark.lake.table import LakeTable
        from workloads import LOG_DDL, PAYLOAD_DDL

        t = LakeTable.create(
            self.spark, os.path.join(rd, "table"), _parse_datatype_string(PAYLOAD_DDL),
            "conv_id", self.w.num_buckets,
        )
        roles = {t.table_dir: "main"}
        q = views = None
        if self.w.quarantine:
            q = LakeTable.create(
                self.spark, os.path.join(rd, "quarantine"),
                _parse_datatype_string(f"{LOG_DDL}, {REASON_COL} string, batch_id string"),
                "conv_id", 1,
            )
            roles[q.table_dir] = "quarantine"
        if self.w.rollup:
            sums = {"sum_turn": "turn_idx", "sum_text_len": "length(text)"}
            v = create_agg_view(self.spark, os.path.join(rd, "rollup"), t, ["role"], sums, num_buckets=1)
            views = [AggViewSpec(v, ["role"], sums)]
            roles[v.table_dir] = "view"
        return t, q, views, roles

    def round(self, idx: int, tracer=None, check: bool = True) -> dict:
        rd = os.path.join(self.work, f"round{idx}")
        table, quarantine, views, roles = self.new_tables(rd)
        if tracer is not None:
            tracer.roles.update(roles)
        if self.w.kind == "stream":
            out = self.stream_round(rd, table, quarantine, views, tracer)
        else:
            out = self.direct_round(table, tracer)
        out["table"] = table
        if check:
            self.check_round(out, table, quarantine, views)
        return out

    def _link_segments(self, live: str, which: range) -> None:
        # hard links keep each file's modification time (one inode)
        for b in which:
            src = self.segment_dirs[b]
            dst = os.path.join(live, os.path.basename(src))
            os.makedirs(dst)
            for name in os.listdir(src):
                os.link(os.path.join(src, name), os.path.join(dst, name))

    def stream_round(self, rd, table, quarantine, views, tracer) -> dict:
        from pyspark.sql.types import _parse_datatype_string

        from dexspark.streaming.replay import CdcStreamReplay
        from workloads import LOG_DDL

        w = self.w
        live = os.path.join(rd, "log")
        os.makedirs(live)
        replay = CdcStreamReplay(
            self.spark, table, live + "/*", os.path.join(rd, "checkpoint"),
            _parse_datatype_string(LOG_DDL),
            quarantine=quarantine,
            max_files_per_trigger=w.files_per_segment,
            strategy=w.strategy,
            views=views,
            maintain_policy=w.maintain_policy,
        )
        # warm-up: the first segments, untimed, through the same query
        self._link_segments(live, range(w.warmup_segments))
        replay.run_available()
        self.listener.wait_for(w.warmup_segments)
        self.listener.reset()
        self.warm_reads(table)
        self._link_segments(live, range(w.warmup_segments, len(self.segment_dirs)))

        if tracer is not None:
            tracer.install()
        try:
            self.start_timed()
            t0 = time.perf_counter()
            replay.run_available()
            wall = time.perf_counter() - t0
            progress = self.listener.wait_for(w.segments)
            with _maybe_span(tracer, "bench.read_phase"):
                reads = self.read_phase(table, tracer)
            if tracer is not None:
                tracer.mark()
        finally:
            if tracer is not None:
                tracer.uninstall()
        triggers = [p for p in progress if p["num_input_rows"] > 0]
        self.op(
            len(triggers) == w.segments,
            f"expected {w.segments} triggers (maxFilesPerTrigger={w.files_per_segment}), "
            f"listener saw {len(triggers)}",
        )
        lat = [p["duration_ms"].get("triggerExecution", 0) / 1000.0 for p in triggers]
        self.attempted += len(triggers)
        events = w.events_per_segment * w.segments
        return {
            "wall": wall,
            "events": events,
            "batch_lat": lat,
            "progress": triggers,
            "reads": reads,
        }

    def warm_reads(self, table) -> None:
        """Part of the read phase, untimed, so the read path is warm."""
        for k in self.keys[:8]:
            table.read(filters=[("conv_id", "=", k)]).collect()
        for _ in range(self.w.scans):
            table.read(columns=["conv_id", "turn_idx"]).groupBy().count().collect()

    def read_phase(self, table, tracer, version_tag=None) -> list[tuple]:
        """Timed point reads and scans; returns (key, rows, tag) for the
        oracle. Traced rounds also record files per point read and the
        delta depth at read time."""
        reads = []
        for k in self.keys:
            with _maybe_span(tracer, "lake.read.point") as rec:
                t0 = time.perf_counter()
                df = table.read(filters=[("conv_id", "=", k)])
                rows = df.collect()
                self.point_lat.append(time.perf_counter() - t0)
            if rec is not None:
                with tracer.bookkeeping():
                    rec["files"] = len(df.inputFiles())
                    rec["delta_depth"] = delta_depth(table)
            reads.append((k, rows, version_tag))
            self.attempted += 1
        for _ in range(self.w.scans):
            with _maybe_span(tracer, "lake.read.scan"):
                t0 = time.perf_counter()
                table.read(columns=["conv_id", "turn_idx"]).groupBy().count().collect()
                self.scan_lat.append(time.perf_counter() - t0)
            self.attempted += 1
        return reads

    def direct_round(self, table, tracer) -> dict:
        import dexspark.cdc.apply as apply_mod
        from workloads import read_log

        w = self.w
        segs = [read_log(self.spark, d) for d in self.segment_dirs]

        def step(b: int):
            t0 = time.perf_counter()
            res = apply_mod.apply_changes(table, segs[b], batch_id=f"seg-{b}", strategy=w.strategy)
            table.maintain()
            lat = time.perf_counter() - t0
            self.op(res.get("applied", 0) > 0 and not res.get("skipped"), f"apply seg-{b}: {res}")
            return lat

        for b in range(w.warmup_segments):
            step(b)
            self.warm_reads(table)
        if tracer is not None:
            tracer.install()
        lat, reads = [], []
        try:
            self.start_timed()
            t0 = time.perf_counter()
            with _maybe_span(tracer, "bench.apply_loop"):
                for b in range(w.warmup_segments, len(segs)):
                    lat.append(step(b))
                    reads += self.read_phase(table, tracer, version_tag=b)
            wall = time.perf_counter() - t0
            if tracer is not None:
                tracer.mark()
        finally:
            if tracer is not None:
                tracer.uninstall()
        return {
            "wall": wall,
            "events": w.events_per_segment * w.segments,
            "batch_lat": lat,
            "progress": [],
            "reads": reads,
        }

    # -- correctness
    def check_round(self, out, table, quarantine, views) -> None:
        import oracle
        from pyspark.sql import functions as F

        log = self.log
        expected = oracle.expected_state(log).persist()
        ok, detail = oracle.table_matches(table.read(), expected)
        self.op(ok, f"final table != oracle: {detail}")
        if quarantine is not None:
            got, want = quarantine.read().count(), oracle.injected_rejects(log)
            self.op(got == want, f"quarantine rows {got} != injected {want}")
        if views:
            ok, detail = oracle.rollup_matches(views[0].view.read(), table.read())
            self.op(ok, f"rollup != full recompute: {detail}")
        # point reads: against the oracle at the version they read
        by_tag: dict = {}
        for k, rows, tag in out["reads"]:
            by_tag.setdefault(tag, []).append((k, rows))
        for tag, items in by_tag.items():
            exp = expected if tag is None else oracle.expected_state(
                log.filter(F.col("batch_seq") <= F.lit(tag))
            )
            want = oracle.expected_rows_for_keys(exp, [k for k, _ in items])
            for k, rows in items:
                self.op(oracle.point_read_matches(rows, want, k), f"point read {k}@{tag}")
        expected.unpersist()

    # -- end-to-end numbers
    def absorb(self, out) -> None:
        self.events_timed += out["events"]
        self.wall_timed += out["wall"]
        self.batch_lat += out["batch_lat"]

    def end_to_end(self, last_table) -> tuple[dict, dict]:
        b_tail, b_pct = tail(self.batch_lat)
        p_tail, p_pct = tail(self.point_lat)
        nbytes, rows = stored_bytes(last_table)
        m = {
            "setup_s": self.t_first_timed - T_PROCESS,
            "ingest_events_per_s": self.events_timed / self.wall_timed,
            "batch_latency_p50_s": median(self.batch_lat),
            "batch_latency_tail_s": b_tail,
            "point_read_p50_s": median(self.point_lat),
            "point_read_tail_s": p_tail,
            "scan_p50_s": median(self.scan_lat),
            "stored_bytes_per_row": nbytes / rows,
            "peak_driver_rss_mb": peak_rss_mb(self.jvm_pid),
        }
        notes = {
            "batch_latency_tail_s": f"p{b_pct:.1f} of n={len(self.batch_lat)}",
            "batch_latency_p50_s": f"n={len(self.batch_lat)}",
            "point_read_tail_s": f"p{p_pct:.1f} of n={len(self.point_lat)}",
            "point_read_p50_s": f"n={len(self.point_lat)}",
            "scan_p50_s": f"n={len(self.scan_lat)}",
            "stored_bytes_per_row": f"{nbytes} bytes / {rows} live rows",
        }
        return m, notes

    def stop(self) -> None:
        stop_spark(self.spark)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run is still using it


def _maybe_span(tracer, name):
    from contextlib import nullcontext

    return tracer.span(name) if tracer is not None else nullcontext()


def delta_depth(table) -> int:
    """Outstanding MOR delta files in the deepest bucket (manifest only)."""
    per: dict[int, int] = {}
    for f in table.manifest().files:
        if f.kind == "delta":
            per[f.bucket] = per.get(f.bucket, 0) + 1
    return max(per.values(), default=0)


def stored_bytes(table) -> tuple[int, int]:
    """Bytes of the head manifest's live files plus their deletion-vector
    directories, and the live row count."""
    total = 0
    for f in table.manifest().files:
        total += os.path.getsize(os.path.join(table.table_dir, f.path))
        if f.dv:
            for dirpath, _, names in os.walk(os.path.join(table.table_dir, f.dv)):
                total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total, table.read().count()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for ln in fh:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------- per-layer
def layer_metrics(run: Run, tracer, traced: dict, child: dict | None) -> dict:
    st = tracer.self_times()

    def self_s(name):
        return st.get(name, {}).get("self_s", 0.0)

    def total_s(name):
        return st.get(name, {}).get("total_s", 0.0)

    def attr_sum(name, key):
        return sum(s.get(key, 0) for s in tracer.spans if s["name"] == name)

    def attr_mean(name, key):
        xs = [s[key] for s in tracer.spans if s["name"] == name and key in s]
        return sum(xs) / len(xs) if xs else 0.0

    prog = traced["progress"]
    events = traced["events"]
    applied = attr_sum("cdc.apply", "applied")
    rejected = attr_sum("cdc.apply", "rejected")
    changes = attr_sum("lake.merge", "changes")
    # per-trigger manifest reads: deltas between trigger-boundary marks
    per_trig = {"read_root": [], "read_manifest": []}
    for a, b in zip(tracer.marks, tracer.marks[1:]):
        for k in per_trig:
            per_trig[k].append(b[k] - a[k])

    def first_last_mean(k):
        xs = per_trig[k]
        return (xs[0], xs[-1], sum(xs) / len(xs)) if xs else (0, 0, 0.0)

    rr_first, rr_last, rr_mean = first_last_mean("read_root")
    rm_first, rm_last, rm_mean = first_last_mean("read_manifest")
    roots = [s for s in tracer.spans if s["parent"] is None]
    wall = sum(s["end"] - s["start"] for s in roots)
    closure = sum(v["self_s"] for v in st.values()) / wall if wall else 0.0
    unattributed = sum(self_s(s) for s in ("streaming.replay", "bench.apply_loop", "bench.read_phase"))
    m = {
        "streaming.triggers": len(prog),
        "streaming.trigger_overhead_s": (
            sum(p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0) for p in prog)
            / 1000.0 / len(prog) if prog else 0.0
        ),
        "sources.rows_read_per_event": sum(p["num_input_rows"] for p in prog) / events if prog else 0.0,
        "cdc.apply.self_s": self_s("cdc.apply"),
        "cdc.apply.spark_jobs": attr_sum("cdc.apply", "spark_jobs"),
        "cdc.validate.rejected": rejected,
        "cdc.dedup.applied_per_valid": applied / (events - rejected) if events > rejected else 0.0,
        "lake.merge.self_s": self_s("lake.merge"),
        "lake.merge.bytes_written": attr_sum("lake.merge", "bytes_written"),
        "lake.merge.rows_written_per_change": attr_sum("lake.merge", "rows_written") / changes if changes else 0.0,
        "lake.quarantine_append_s": total_s("lake.quarantine_append"),
        "lake.matview.refresh_s": total_s("lake.matview.refresh"),
        "lake.maintain_s": total_s("lake.maintain"),
        "lake.maintain.buckets_compacted": attr_sum("lake.maintain", "buckets_compacted"),
        "lake.maintain.bytes_rewritten": attr_sum("lake.maintain", "bytes_rewritten"),
        "lake.ledger_s": total_s("lake.ledger"),
        "lake.manifest.read_root_calls_per_trigger": rr_mean,
        "lake.manifest.read_root_calls_first": rr_first,
        "lake.manifest.read_root_calls_last": rr_last,
        "lake.manifest.read_manifest_calls_per_trigger": rm_mean,
        "lake.manifest.read_manifest_calls_first": rm_first,
        "lake.manifest.read_manifest_calls_last": rm_last,
        "lake.manifest.commit_s": total_s("lake.manifest.commit"),
        "lake.commit.retries": tracer.counters["commit_retries"],
        "lake.read.files_per_point": attr_mean("lake.read.point", "files"),
        "lake.read.delta_depth": attr_mean("lake.read.point", "delta_depth"),
        "lake.read.scan_s": total_s("lake.read.scan"),
        "trace.wall_s": traced["wall"],
        "trace.ingest_events_per_s": events / traced["wall"],
        "trace.overhead_share": tracer.overhead_s / wall if wall else 0.0,
        "trace.self_time_closure": closure,
        "trace.unattributed_share": unattributed / wall if wall else 0.0,
        "trace.spans": len(tracer.spans),
    }
    n = run.cores
    child = child or {}
    for layer in SCALING_LAYERS:
        s1, sn = child.get(layer, 0.0), self_s(layer)
        m[f"scaling.{layer}.self_s_1core"] = s1
        m[f"scaling.{layer}.self_s_ncore"] = sn
        m[f"scaling.{layer}.efficiency"] = s1 / (n * sn) if sn > 0 and s1 > 0 else 0.0
    w1 = child.get("__wall__", 0.0)
    m["scaling.total.efficiency"] = w1 / (n * wall) if wall and w1 else 0.0
    return m


def run_scaling_child(args, log_dir: str) -> dict:
    """Replay the same workload and seed at local[1], traced; returns
    self seconds per span name plus the traced wall."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "1",
        "--cores", "1", "--scale", str(args.scale), "--scaling-child",
        "--log-dir", log_dir,
    ]
    # own process group, so a timeout also ends the child's JVM
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, start_new_session=True
    )
    try:
        out, _ = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"local[1] scaling run failed with code {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])["scaling_child"]


# -------------------------------------------------------------- main
def main_workload(args) -> int:
    run = Run(args)
    run.setup()
    try:
        if args.scaling_child:
            from tracing import Tracer

            tracer = Tracer(run.spark, {})
            run.round(0, tracer=tracer, check=False)
            st = tracer.self_times()
            roots = [s for s in tracer.spans if s["parent"] is None]
            res = {k: v["self_s"] for k, v in st.items()}
            res["__wall__"] = sum(s["end"] - s["start"] for s in roots)
            print(json.dumps({"scaling_child": res}))
            return 0
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(run.spark, {})
            traced = run.round(0, tracer=tracer)
            child = run_scaling_child(args, run.log_dir) if run.w.scaling and run.cores > 1 else None
            metrics = layer_metrics(run, tracer, traced, child)
            units = PER_LAYER
            dump_spans(run, tracer)
        else:
            out = None
            i = 0
            while True:
                out = run.round(i)
                run.absorb(out)
                i += 1
                if time.time() - run.t_first_timed >= args.seconds:
                    break
            metrics, notes = run.end_to_end(out["table"])
            units = END_TO_END
            for name, v in metrics.items():
                print(f"{name} = {v:.6g} {units[name][0]}  {notes.get(name, '')}")
            share = run.failed / max(run.attempted, 1)
            print(f"failed_op_share = {share:.6g} ratio  ({run.failed}/{run.attempted})")
        result = {
            "correct": run.failed == 0,
            "attempted": max(run.attempted, 1),
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": units[k][0]} for k, v in metrics.items()},
        }
    finally:
        run.stop()
    print(json.dumps(result))
    return 0


def dump_spans(run: Run, tracer) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"spans-{run.w.name}-seed{run.args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"run_id": tracer.run_id, "spans": tracer.spans, "self_times": tracer.self_times()}, fh)
    print(f"# spans written to {os.path.relpath(path, ROOT)}")


def main_all(args) -> int:
    """Every workload, each in its own process; prints a summary."""
    from workloads import WORKLOADS

    rows, rc = {}, 0
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(args.cores), "--scale", str(args.scale),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for ln in lines[:-1]:
            print(f"[{name}] {ln}")
        if proc.returncode != 0 or not lines:
            print(f"[{name}] exited with code {proc.returncode}")
            rc = 1
            continue
        rows[name] = json.loads(lines[-1])
    units = PER_LAYER if args.trace else END_TO_END
    names = list(units)
    width = max(len(n) for n in names) + 2
    print("metric".ljust(width) + "".join(n.rjust(16) for n in rows) + "  unit")
    for n in names:
        vals = "".join(f"{rows[w]['metrics'][n]['value']:16.6g}" for w in rows)
        print(n.ljust(width) + vals + f"  {units[n][0]}")
    for w, r in rows.items():
        print(f"{w}: correct={r['correct']} failed_op_share={r['failed'] / r['attempted']:.3g} "
              f"({r['failed']}/{r['attempted']})")
    ok = rc == 0 and all(r["correct"] for r in rows.values())
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in rows.values()) or 1,
        "failed": sum(r["failed"] for r in rows.values()),
        "metrics": {f"{w}.{k}": v for w, r in rows.items() for k, v in r["metrics"].items()},
    }))
    return 0 if ok else 1


def record_fingerprints(args) -> int:
    """Recompute fingerprints.json for every workload and seed residue."""
    from workloads import FINGERPRINTS, SEED_SPACE, WORKLOADS, fingerprint, fingerprint_key, read_log, write_log

    args.workload = "bulk_cow"
    run = Run(args)
    table = {}
    try:
        run.start_spark()
        for w in WORKLOADS.values():
            for ws in (w, w.scaled(SMOKE_SCALE)):
                for s in range(SEED_SPACE):
                    d = os.path.join(run.work, f"fp-{w.name}-{s}")
                    write_log(run.spark, ws, s, d)
                    table[fingerprint_key(ws, s)] = fingerprint(read_log(run.spark, d))
                    shutil.rmtree(d)
                print(f"# recorded {ws.name} {ws.events_per_segment}x{ws.segments}", flush=True)
    finally:
        run.stop()
    with open(FINGERPRINTS, "w") as fh:
        fh.write("{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(table.items())) + "\n}\n")
    return 0


SMOKE_SCALE = 0.05


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    p.add_argument("--scale", type=float, default=1.0, help="event-count factor (smoke tests)")
    p.add_argument("--scaling-child", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--log-dir", help=argparse.SUPPRESS)
    p.add_argument("--write-manifest", action="store_true", help="write BENCHMARK.json")
    p.add_argument("--record-fingerprints", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(manifest_doc(), fh, indent=2)
            fh.write("\n")
        return 0
    # the engine is built from the checkout's own sources
    if not os.path.isfile(os.path.join(ROOT, "dexspark", "__init__.py")):
        print(f"dexspark sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.record_fingerprints:
        return record_fingerprints(args)
    from workloads import WORKLOADS

    if args.workload == "all":
        return main_all(args)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    if args.cores < 1 or args.cores > (os.cpu_count() or 1):
        print(f"--cores must be between 1 and nproc ({os.cpu_count()})", file=sys.stderr)
        return 2
    return main_workload(args)


if __name__ == "__main__":
    sys.exit(main())
