"""Span tracing from outside the engine.

``Tracer.install()`` wraps the public entry points of each layer
(replay, apply, validate, dedup, ledger, merge, append, maintain,
compact, view refresh, manifest commit) and counts manifest reads and
commit retries. Spans carry a name, start, end, parent span and the
tracer's run id; they stay in memory and are written out by the caller
when the run ends. ``uninstall()`` restores every wrapped attribute.

``ProgressListener`` is a ``StreamingQueryListener`` that keeps each
trigger's ``StreamingQueryProgress``; it is used with and without
tracing, because batch latency and the trigger-count check come from
it.
"""

from __future__ import annotations

import functools
import os
import threading
import time
import uuid
from collections import Counter
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class ProgressListener(StreamingQueryListener):
    def __init__(self):
        self.progress: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "duration_ms": dict(p.durationMs),
            "num_input_rows": int(p.numInputRows),
        }
        with self._cv:
            self.progress.append(rec)
            self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def reset(self) -> None:
        with self._cv:
            self.progress = []

    def wait_for(self, n: int, timeout: float = 15.0) -> list[dict]:
        """Progress events are delivered asynchronously on the listener
        bus; wait until ``n`` have arrived (or the timeout passes)."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while len(self.progress) < n:
                left = deadline - time.monotonic()
                if left <= 0:
                    break
                self._cv.wait(left)
            return list(self.progress)


class Tracer:
    def __init__(self, spark, roles: dict[str, str]):
        """``roles`` maps an absolute table dir to its role in the
        workload (``main``, ``quarantine``, ``view``)."""
        self.spark = spark
        self.roles = roles
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        # counter snapshots at trigger boundaries (each apply starts one)
        self.marks: list[Counter] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        # seconds spent in the tracer's own bookkeeping (span records,
        # manifest diffs, job counters): the tracing overhead
        self.overhead_s = 0.0
        self._in_bookkeeping = False
        self._next_job_id = self._job_counter()

    @contextmanager
    def bookkeeping(self):
        """Time the tracer's own work; engine calls made from inside it
        (manifest reads for byte counts) are not counted."""
        t0 = time.perf_counter()
        self._in_bookkeeping = True
        try:
            yield
        finally:
            self._in_bookkeeping = False
            self.overhead_s += time.perf_counter() - t0

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "run_id": self.run_id,
                "start": time.perf_counter(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._stack.pop()

    def mark(self) -> None:
        self.marks.append(Counter(self.counters))

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: inclusive seconds, self seconds, count. Self
        time is the span's duration minus its children's durations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0, "count": 0})
            agg["total_s"] += d
            agg["self_s"] += d - child[s["id"]]
            agg["count"] += 1
        return out

    # ----------------------------------------------------------- wiring
    def _job_counter(self):
        """Next Spark job id, read synchronously from the scheduler (the
        status tracker is fed asynchronously by the listener bus)."""
        sched = self.spark.sparkContext._jsc.sc().dagScheduler()

        def next_id() -> int:
            # py4j hands the AtomicInteger back as its int value
            return int(sched.nextJobId())

        next_id()
        return next_id

    def _role(self, table) -> str:
        return self.roles.get(os.path.abspath(table.table_dir), "other")

    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))

    def _spanned(self, name: str):
        def factory(orig):
            def wrapper(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)

            return wrapper

        return factory

    def _counted(self, key: str):
        def factory(orig):
            def wrapper(*a, **kw):
                if not self._in_bookkeeping:
                    self.counters[key] += 1
                return orig(*a, **kw)

            return wrapper

        return factory

    def _added_files(self, table, before: set[str]):
        m = table.manifest()
        return [f for f in m.files if f.path not in before]

    def _file_bytes(self, table, files) -> int:
        return sum(os.path.getsize(os.path.join(table.table_dir, f.path)) for f in files)

    def install(self) -> None:
        import dexspark.cdc.apply as apply_mod
        import dexspark.lake.manifest as mf
        import dexspark.lake.matview as matview
        import dexspark.lake.table as table_mod
        import dexspark.streaming.replay as replay_mod

        tracer = self
        LakeTable = table_mod.LakeTable

        def apply_factory(orig):
            def wrapper(table, events, *a, **kw):
                with tracer.bookkeeping():
                    tracer.mark()
                    j0 = tracer._next_job_id()
                with tracer.span("cdc.apply") as rec:
                    res = orig(table, events, *a, **kw)
                with tracer.bookkeeping():
                    rec["spark_jobs"] = tracer._next_job_id() - j0
                    rec["applied"] = int(res.get("applied", 0))
                    rec["rejected"] = int(res.get("rejected", 0))
                return res

            return wrapper

        self._patch(replay_mod.CdcStreamReplay, "run_available", self._spanned("streaming.replay"))
        self._patch(replay_mod, "apply_changes", apply_factory)
        self._patch(apply_mod, "apply_changes", apply_factory)
        self._patch(apply_mod, "flag_events", self._spanned("cdc.validate"))
        self._patch(apply_mod, "dedupe_latest", self._spanned("cdc.dedup"))
        self._patch(LakeTable, "committed_batch_ids", self._spanned("lake.ledger"))
        self._patch(LakeTable, "compact", self._spanned("lake.compact"))
        self._patch(matview.AggViewSpec, "refresh", self._spanned("lake.matview.refresh"))
        self._patch(mf, "commit_manifest", self._spanned("lake.manifest.commit"))
        self._patch(mf, "read_root", self._counted("read_root"))
        self._patch(mf, "read_manifest", self._counted("read_manifest"))
        self._patch(table_mod, "_conflict_backoff", self._counted("commit_retries"))

        def append_factory(orig):
            def wrapper(table, *a, **kw):
                role = tracer._role(table)
                name = "lake.quarantine_append" if role == "quarantine" else f"lake.append.{role}"
                with tracer.span(name):
                    return orig(table, *a, **kw)

            return wrapper

        def merge_factory(orig):
            def wrapper(table, changes, *a, **kw):
                role = tracer._role(table)
                if role != "main":
                    with tracer.span(f"lake.merge.{role}"):
                        return orig(table, changes, *a, **kw)
                with tracer.bookkeeping():
                    before = {f.path for f in table.manifest().files}
                with tracer.span("lake.merge") as rec:
                    res = orig(table, changes, *a, **kw)
                with tracer.bookkeeping():
                    added = tracer._added_files(table, before)
                    rec["bytes_written"] = tracer._file_bytes(table, added)
                    rec["rows_written"] = sum(max(f.rows, 0) for f in added)
                    rec["changes"] = sum((kw.get("bucket_stats") or {}).values())
                return res

            return wrapper

        def maintain_factory(orig):
            def wrapper(table, *a, **kw):
                with tracer.bookkeeping():
                    before = {f.path for f in table.manifest().files}
                with tracer.span("lake.maintain") as rec:
                    res = orig(table, *a, **kw)
                with tracer.bookkeeping():
                    comp = res.get("compact") or {}
                    rec["buckets_compacted"] = len(comp.get("affected_buckets") or [])
                    rec["bytes_rewritten"] = (
                        tracer._file_bytes(table, tracer._added_files(table, before)) if comp else 0
                    )
                return res

            return wrapper

        self._patch(LakeTable, "append", append_factory)
        self._patch(LakeTable, "merge", merge_factory)
        self._patch(LakeTable, "maintain", maintain_factory)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
