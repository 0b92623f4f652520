"""Streaming replay: tail an ordered change log with Structured
Streaming and apply each micro-batch through apply_changes.

≙ reference O1/O3 stream sources (RouteIngestedFile.kt:13-20 Event Hub
tail, FnRouter.kt:29-51) + O15 deterministic replay
(FnOrchestrator.kt:194-204). The file source plays the role of the
Event Hub: new parquet files appearing under ``log_dir`` are change
segments, discovered per micro-batch in order.

Exactly-once = two independent mechanisms composed:

1. Spark's streaming checkpoint guarantees each source file is handed
   to ``foreachBatch`` at least once with a stable ``batch_id``.
2. ``apply_changes`` consults the table's committed-batch ledger (the
   manifest summaries) and no-ops on an already-committed batch_id.

So a crash after the merge commit but before the checkpoint commit
replays the batch on restart, hits the ledger, and skips — the double
-write problem never manifests because lineage is committed *inside*
the data snapshot (see dexspark.lake).

Scale notes: ``maxFilesPerTrigger`` bounds batch size (≙ the
reference's Cardinality.ONE, but batched); at 10^10 events you size
triggers so a micro-batch's dedup output fits the shuffle budget, and
``salt_buckets`` defuses hot conversations.
"""

from __future__ import annotations

import os
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dexspark.cdc.apply import apply_changes
from dexspark.cdc.validate import ValidationConfig
from dexspark.lake.table import LakeTable


def checkpoint_identity(checkpoint_dir: str) -> str:
    """The identity minted once per checkpoint lifetime, stored in the
    checkpoint dir (see ``CdcStreamReplay``'s ledger ids)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, "dexspark_identity")
    try:
        # O_EXCL: exactly one identity per checkpoint lifetime,
        # even with two replay instances starting concurrently
        fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        with os.fdopen(fd, "w") as fh:
            fh.write(uuid.uuid4().hex[:12])
    except FileExistsError:
        pass
    with open(p) as fh:
        return fh.read().strip()


def run_available_now(
    stream: DataFrame,
    foreach_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Feed everything ``stream`` holds now through ``foreach_batch``
    (Trigger.AvailableNow, checkpointed in ``checkpoint_dir``) and
    return once it is drained. Re-invoke after new input lands — the
    checkpoint resumes from the last committed offset."""
    (
        stream.writeStream.foreachBatch(foreach_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


class CdcStreamReplay:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        log_dir: str,
        checkpoint_dir: str,
        log_schema: StructType,
        cfg: ValidationConfig | None = None,
        quarantine: LakeTable | None = None,
        salt_buckets: int | None = None,
        max_files_per_trigger: int | None = None,
        batch_id_prefix: str = "stream",
        log_format: str = "parquet",
        cfg_provider: Callable[[], ValidationConfig] | None = None,
        strategy: str = "cow",
        views: list[Any] | None = None,
        mode: str = "scd1",
        maintain_policy: dict[str, Any] | None = None,
    ):
        self.spark = spark
        self.table = table
        self.log_dir = log_dir
        self.checkpoint_dir = checkpoint_dir
        # ledger ids are {prefix}-{checkpoint identity}-{epoch}: epoch
        # ids restart at 0 whenever the checkpoint is wiped or a second
        # replay (different log!) shares the table, and bare epoch ids
        # would then collide with committed batches and silently DROP
        # new data as "already_committed". The identity file rides in
        # the checkpoint dir, so a resume keeps it (exactly-once
        # replay still no-ops) while a wipe/new checkpoint mints a new
        # one (fresh epochs land instead of vanishing).
        self.checkpoint_identity = checkpoint_identity(checkpoint_dir)
        self.log_schema = log_schema
        self.cfg = cfg
        # ≙ FnCacheUpdater.kt:22-46 (live config cache): when given,
        # the validation config is re-resolved from this source at
        # every micro-batch, so a long-running replay picks up config
        # changes without a restart. Wins over `cfg` when both are set.
        self.cfg_provider = cfg_provider
        self.quarantine = quarantine
        self.salt_buckets = salt_buckets
        self.max_files_per_trigger = max_files_per_trigger
        self.batch_id_prefix = batch_id_prefix
        self.log_format = log_format
        # merge mode per micro-batch: "mor" makes each commit O(batch)
        # (delta append) — pair with maintain_policy so read-time
        # resolve stays bounded on a long-running ingest
        self.strategy = strategy
        # downstream derived-table subscriptions — anything with a
        # ``refresh(src) -> info | None`` method (lake/matview.py
        # AggViewSpec rollups, lake/sigindex.py SigIndexSpec near-dup
        # indexes): refreshed incrementally after every applied
        # micro-batch, so derived consumers trail the table by at
        # most one trigger. Refreshes are ledger-gated, hence replay-
        # safe under the same restart semantics as apply_changes.
        self.views = views or []
        # "scd1" (default): latest-image upsert via apply_changes.
        # "scd2": full-history apply via cdc/scd2.py — ``table`` must
        # be a history table (scd2_schema); strategy/salt are SCD1-only
        # knobs and must stay at their defaults.
        if mode not in ("scd1", "scd2"):
            raise ValueError(f"unknown replay mode: {mode!r}")
        if mode == "scd2" and (strategy != "cow" or salt_buckets):
            raise ValueError("scd2 mode supports neither 'mor' nor salting")
        self.mode = mode
        # kwargs for LakeTable.maintain(), evaluated after every
        # applied micro-batch: file-count, delta-depth, dv-ratio and
        # stale-schema triggers plus optional expiry/vacuum, all
        # decided from the manifest with zero data I/O. None never
        # compacts; a batch job compacts with ``dexspark maintain``.
        self.maintain_policy = maintain_policy
        self.results: list[dict[str, Any]] = []

    def _foreach_batch(self, batch_df, epoch_id: int) -> None:
        import time

        t0 = time.monotonic()
        cfg = self.cfg_provider() if self.cfg_provider is not None else self.cfg
        batch_id = f"{self.batch_id_prefix}-{self.checkpoint_identity}-{epoch_id}"
        if self.mode == "scd2":
            from dexspark.cdc.scd2 import apply_changes_scd2

            res = apply_changes_scd2(
                self.table,
                batch_df,
                batch_id=batch_id,
                cfg=cfg,
                quarantine=self.quarantine,
            )
        else:
            res = apply_changes(
                self.table,
                batch_df,
                batch_id=batch_id,
                cfg=cfg,
                quarantine=self.quarantine,
                salt_buckets=self.salt_buckets,
                strategy=self.strategy,
            )
        # per-micro-batch operational metrics (≙ the reference's
        # per-step replay-aware logging, FnOrchestrator.kt:194-204):
        # wall seconds, processed rows (applied post-dedup + rejected),
        # and throughput — the signal an ingest daemon alerts on
        wall = time.monotonic() - t0
        rows = int(res.get("applied", res.get("events", 0))) + int(
            res.get("rejected", 0)
        )
        res["metrics"] = {
            "epoch_id": int(epoch_id),
            "wall_sec": round(wall, 3),
            "rows": rows,
            "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
        }
        self.results.append(res)
        # a skipped (redelivered) batch still refreshes: a crash BETWEEN
        # the table commit and the view refresh leaves the view one
        # batch behind, and the redelivery is where it catches up
        if not res.get("skipped") and self.maintain_policy is not None:
            info = self.table.maintain(**self.maintain_policy)
            if (
                info["buckets_triggered"]
                or "expire" in info
                or "vacuum" in info
            ):
                info["trigger"] = "policy"
                self.results.append(info)
        self._refresh_views()

    def _refresh_views(self) -> None:
        import time

        for spec in self.views:
            t0 = time.monotonic()
            info = spec.refresh(self.table)
            if info is not None:
                info["trigger"] = "view_refresh"
                info["wall_sec"] = round(time.monotonic() - t0, 3)
                self.results.append(info)

    def run_available(self) -> list[dict[str, Any]]:
        """Process everything currently in log_dir, then stop
        (Trigger.AvailableNow). Re-invoke after new segments land —
        the checkpoint resumes from the last committed offset."""
        from dexspark.sources.changelog import read_log_stream

        stream = read_log_stream(
            self.spark,
            self.log_dir,
            fmt=self.log_format,
            schema=self.log_schema,
            max_files_per_trigger=self.max_files_per_trigger,
        )
        run_available_now(stream, self._foreach_batch, self.checkpoint_dir)
        return self.results
