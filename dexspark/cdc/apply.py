"""apply_changes — one micro-batch through the full pipeline.

≙ the reference orchestrator (FnOrchestrator.kt:22-59): a driver-side
sequencer over declarative stages, with a global error channel and
replay-awareness. Here the stages are DataFrame transformations and
"replay-awareness" is the batch ledger: a batch_id already present in a
committed manifest summary makes the whole call a no-op
(FnOrchestrator.kt:197 ``getIsReplaying()`` ≙ exactly-once).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructType

from dexspark.cdc.dedup import dedupe_latest
from dexspark.cdc.validate import REASON_COL, REASONS, ValidationConfig, flag_events
from dexspark.lake import constraints as lake_ct
from dexspark.lake.table import LakeTable

META_COLS = ("lsn", "op", "batch_seq", REASON_COL)


def payload_schema(events: DataFrame) -> StructType:
    return StructType([f for f in events.schema.fields if f.name not in META_COLS])


def maybe_evolve_schema(table: LakeTable, events: DataFrame) -> bool:
    """North-rule schema evolution: if the incoming batch carries new
    payload columns or WIDER types, evolve the table DDL before the
    merge. A NARROWER incoming type (a producer still emitting int
    where the table already widened to long) is NOT an evolution —
    merge's schema alignment casts it up harmlessly; proposing it
    would make evolve_schema raise on every replay of the same batch,
    a deterministic poison pill for a streaming ingest."""
    from dexspark.lake.table import _WIDENINGS

    incoming = payload_schema(events)
    current = table.schema()
    cur = {f.name: f.dataType for f in current.fields}
    changed = False
    fields = list(current.fields)
    for f in incoming.fields:
        if f.name not in cur:
            fields.append(f)
            changed = True
        elif cur[f.name] != f.dataType:
            if (f.dataType, cur[f.name]) in _WIDENINGS:
                continue  # narrower producer: align casts it up
            # wider (legal evolution) or incompatible — propose it and
            # let evolve_schema's validation reject the latter loudly
            fields = [
                type(x)(x.name, f.dataType, True) if x.name == f.name else x
                for x in fields
            ]
            changed = True
    if not changed:
        return False
    return table.evolve_schema(StructType(fields))


class RejectStage:
    """The one reject side-channel of every CDC ingest path —
    ``apply_changes``, ``apply_changes_scd2`` and the still-bad pass of
    ``reprocess_quarantine`` (≙ the reference's per-record error
    channel, FnCSVValidationGeneric.kt:30-48, FnOrchestrator.kt:95-111).

    - **Flagging.** ``flagged`` is ``flag_events`` with the table's
      "drop"-mode CHECK constraints (lake/constraints.py) extending
      the reason chain: a violating non-delete is rejected with reason
      ``constraint:<name>``, quarantined and counted like any
      validation reject.
    - **Counting.** Reject metrics ride the first job over ``flagged``
      via an Observation instead of a dedicated count job per batch
      (driver round-trips are the serial cost micro-batch throughput
      is most sensitive to); ``counts()`` reads them.
    - **Dead letters.** ``to_quarantine()`` appends the rejects to the
      quarantine, gated on the quarantine's own ledger.

    ``flagged`` is cached ONLY when a quarantine is attached: that is
    the one consumer that re-reads it (the rejects append). Without a
    quarantine, caching every pre-dedup event row is pure overhead on
    the hot path — a multi-GB cache write per batch at 16M-event scale
    whose memory pressure taxes the parallel stages — and the only
    other reader (the AQE empty-relation fallback count, all-invalid
    batches only) can recompute from the deterministic source files in
    that rare path instead."""

    def __init__(
        self,
        events: DataFrame,
        cfg: ValidationConfig,
        constraints: dict[str, dict],
        quarantine: LakeTable | None = None,
    ):
        is_del = F.col(cfg.op_col) == F.lit(cfg.delete_op)
        drop_reason = lake_ct.drop_mode_reason(constraints, skip=is_del)
        self.reasons = REASONS + tuple(
            lake_ct.REASON_PREFIX + n
            for n, d in constraints.items()
            if d["on_violation"] == "drop"
        )
        flagged = flag_events(events, cfg)
        if drop_reason is not None:
            flagged = flagged.withColumn(
                REASON_COL, F.coalesce(F.col(REASON_COL), drop_reason)
            )
        self._obs = Observation()
        flagged = flagged.observe(
            self._obs,
            F.count(F.col(REASON_COL)).alias("_rejected"),
            *[
                F.count(F.when(F.col(REASON_COL) == r, 1)).alias(r)
                for r in self.reasons
            ],
        )
        self.quarantine = quarantine
        if quarantine is not None:
            flagged = flagged.persist()
        self.flagged = flagged
        self.rejects = flagged.filter(F.col(REASON_COL).isNotNull())
        self.valid = flagged.filter(F.col(REASON_COL).isNull()).drop(REASON_COL)

    def counts(self) -> tuple[int, dict[str, int]]:
        """(rejected, rejected_by_reason) — call after the first job
        over ``flagged`` has run."""
        try:
            metrics = self._obs.get
            n_rejected = int(metrics["_rejected"])
            rejected_by_reason = {
                r: int(metrics[r]) for r in self.reasons if metrics[r]
            }
        except Exception:
            # all-invalid batch: AQE's empty-relation propagation
            # replaces the (empty) valid subtree at runtime and the
            # CollectMetrics node drops out of the final plan, so the
            # observation never reports. Count from `flagged` instead
            # (cached when a quarantine is attached; recomputed from
            # the deterministic source files otherwise — this path
            # only fires on an all-invalid batch).
            counts = {
                row[0]: int(row[1])
                for row in self.rejects.groupBy(REASON_COL).count().collect()
            }
            n_rejected = sum(counts.values())
            rejected_by_reason = counts
        return n_rejected, rejected_by_reason

    def to_quarantine(self, batch_id: str, n_rejected: int) -> None:
        """Append the rejects as ``batch_id`` unless the quarantine's
        ledger already holds it. Callers run this BEFORE the table
        merge: a crash between the two is then recovered by the
        checkpoint replay (the merge is still pending, this append
        skips via the quarantine's own ledger). After the merge, a
        crash would lose the rejects: the replay hits the table ledger
        and returns before reaching the quarantine."""
        if self.quarantine is None or not n_rejected:
            return
        if batch_id not in self.quarantine.committed_batch_ids():
            self.quarantine.append(
                self.rejects.withColumn("batch_id", F.lit(batch_id)),
                summary={"batch_id": batch_id},
            )

    def unpersist(self) -> None:
        if self.quarantine is not None:
            self.flagged.unpersist()


def apply_changes(
    table: LakeTable,
    events: DataFrame,
    batch_id: str,
    cfg: ValidationConfig | None = None,
    quarantine: LakeTable | None = None,
    salt_buckets: int | None = None,
    strategy: str = "cow",
    extra_summary: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Validate → dedup → merge one batch. Idempotent on batch_id.

    ``extra_summary``: caller metadata folded into the merge commit's
    summary (e.g. the snapshot watermark a snapshot-derived batch was
    cut at — cdc/snapshot.py reads it back to enforce feed order);
    reserved keys (batch_id/partitions/rejected/...) win.

    ``strategy`` selects the merge mode: "cow" rewrites affected
    buckets (cheap reads), "mor" appends delta files (O(batch) writes,
    read-time resolve) — see LakeTable.merge.

    ``events`` must be deterministic: recomputing it must yield the
    same rows. With no quarantine attached, a batch in which every
    event is invalid has its reject counts recounted from ``events``
    (the reject observation does not report on that path), so a source
    built with ``rand()``/``uuid()`` upstream could commit reject
    counts that disagree with the rows actually validated."""
    cfg = cfg or ValidationConfig()
    if batch_id in table.committed_batch_ids():
        return {"batch_id": batch_id, "skipped": True, "reason": "already_committed"}

    maybe_evolve_schema(table, events)

    # table-declared CHECK constraints join the validation stage
    # (lake/constraints.py): "drop"-mode expectations extend the reject
    # reason chain (RejectStage); "fail"-mode invariants are counted on
    # the post-dedup change set (see below) and abort the batch BEFORE
    # anything commits. merge() skips its own check when given
    # bucket_stats — this pass is the enforcement point.
    defs = table.constraints()
    fail_defs = {n: d for n, d in defs.items() if d["on_violation"] == "fail"}
    is_del = F.col(cfg.op_col) == F.lit(cfg.delete_op)

    # one full compute of the validation stage, shared by both sides
    stage = RejectStage(events, cfg, defs, quarantine)
    deduped = None
    try:
        # fail-mode CHECK invariants are counted on the POST-dedup
        # change set — the rows the merge would actually write — so a
        # violating event superseded in the same batch by a newer valid
        # image does not poison the batch (Delta CHECK semantics:
        # constraints bind to rows written, not events observed). Rides
        # the lineage job via a second Observation, still zero extra
        # jobs.
        fail_aggs = lake_ct.violation_count_aggs(fail_defs, skip=is_del)
        obs_fail = Observation()
        deduped = dedupe_latest(
            stage.valid, list(cfg.key_cols), cfg.lsn_col, salt_buckets=salt_buckets
        )
        if fail_defs:
            deduped = deduped.observe(obs_fail, *fail_aggs)
        deduped = deduped.persist()

        # per-bucket lineage (≙ ActivityParams per-branch lineage,
        # ActivityDtos.kt:20-25): offset range + applied count per bucket.
        # This one job also yields the affected-bucket stats the merge
        # needs, so merge skips its own stats pass.
        m = table.manifest()
        lineage_rows = (
            deduped.groupBy(table._bucket_expr(m).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("applied"),
                F.min(cfg.lsn_col).alias("start_lsn"),
                F.max(cfg.lsn_col).alias("end_lsn"),
            )
            .collect()
        )
        # the lineage job above materialized `flagged` (and the
        # observation on it); metrics are now available without a
        # dedicated reject-count job
        n_rejected, rejected_by_reason = stage.counts()
        fail_counts = {}
        if fail_defs:
            try:
                fmetrics = obs_fail.get
                fail_counts = {
                    n: int(fmetrics["_cviol_" + n] or 0) for n in fail_defs
                }
            except Exception:
                # same AQE empty-relation hazard when the deduped
                # change set is empty — recount over the cache
                row = deduped.filter(~is_del).agg(*fail_aggs).first()
                fail_counts = (
                    {n: int(row["_cviol_" + n] or 0) for n in fail_defs}
                    if row is not None
                    else {n: 0 for n in fail_defs}
                )
        # a "fail"-mode invariant violation aborts the whole batch
        # atomically — before the quarantine append, before the merge
        # (the orchestrator's retry redelivers it; ≙ the reference's
        # failed-step stop, FnOrchestrator.kt:95-111)
        lake_ct.raise_if_violated(
            fail_counts, f"apply_changes batch {batch_id}"
        )
        partitions = [
            {
                "bucket": int(r["bucket"]),
                "applied": int(r["applied"]),
                "start_lsn": int(r["start_lsn"]),
                "end_lsn": int(r["end_lsn"]),
                "rejected": 0,
            }
            for r in lineage_rows
        ]

        stage.to_quarantine(batch_id, n_rejected)

        changes = deduped.drop("batch_seq")
        info = table.merge(
            changes,
            key_cols=list(cfg.key_cols),
            op_col=cfg.op_col,
            delete_value=cfg.delete_op,
            strategy=strategy,
            bucket_stats={int(r["bucket"]): int(r["applied"]) for r in lineage_rows},
            bucket_stats_layout=m.num_buckets,
            summary={
                **(extra_summary or {}),
                "batch_id": batch_id,
                "partitions": partitions,
                "rejected": n_rejected,
                "rejected_by_reason": rejected_by_reason,
            },
        )
        return {
            "batch_id": batch_id,
            "skipped": False,
            "applied": int(sum(p["applied"] for p in partitions)),
            "rejected": n_rejected,
            "rejected_by_reason": rejected_by_reason,
            "merge": json.loads(json.dumps(info, default=str)),
        }
    finally:
        # a merge that exhausts its conflict retries must not leak the
        # cached dedup output into a long-running daemon's storage pool
        if deduped is not None:
            deduped.unpersist()
        stage.unpersist()


def fix_from_spec(spec: dict[str, Any]):
    """Build a quarantine-correction function from a declarative spec —
    the config-driven shape of the reference's error functions
    (OrchestratorDtos.kt:22-25: per-step error handlers are named +
    parameterized in config, not code). Keys, applied in this order:

    - ``remap``:    {col: {old_value: new_value}} — value substitution
      (e.g. fix a misspelled role emitted by a bad producer)
    - ``set``:      {col: literal} — unconditional constant override
    - ``coalesce``: {col: literal} — fill NULLs only

    All three compile to codegen'd CASE/COALESCE expressions — the fix
    runs at scan speed, no Python on the data path."""
    remap = spec.get("remap", {})
    setv = spec.get("set", {})
    coal = spec.get("coalesce", {})

    def fix(df: DataFrame) -> DataFrame:
        for col, mapping in remap.items():
            expr = F.col(col)
            for old, new in mapping.items():
                expr = F.when(F.col(col) == F.lit(old), F.lit(new)).otherwise(expr)
            df = df.withColumn(col, expr)
        for col, v in setv.items():
            df = df.withColumn(col, F.lit(v))
        for col, v in coal.items():
            df = df.withColumn(col, F.coalesce(F.col(col), F.lit(v)))
        return df

    return fix


def reprocess_quarantine(
    table: LakeTable,
    quarantine: LakeTable,
    fix,
    batch_id: str,
    cfg: ValidationConfig | None = None,
) -> dict[str, Any]:
    """Dead-letter reprocessing: pull the quarantined rows, apply a
    caller-supplied correction (``fix: DataFrame -> DataFrame``), and
    run them through the normal validate → dedup → merge path under a
    fresh batch_id.

    ≙ the reference's error channel made replayable: DEX routes
    failures to error functions and stops (FnOrchestrator.kt:95-111);
    here the rejects table is itself a change source, so corrected
    records rejoin the stream with full exactly-once + lineage
    semantics. After a successful apply the quarantine is REWRITTEN to
    exactly the rows that still fail validation (under the new
    batch_id), so its contents always equal the outstanding dead
    letters — fixed rows leave, still-bad rows appear once, and repeat
    reprocessing cannot re-fix or recount old rows. LSN-gated merging
    makes it safe even if the underlying key advanced meanwhile: a
    stale corrected row loses to the newer table state.
    """
    cfg = cfg or ValidationConfig()
    events = quarantine.read().drop("reject_reason", "batch_id")
    fixed = fix(events)
    res = apply_changes(table, fixed, batch_id=batch_id, cfg=cfg)
    # a skipped apply (crash landed between the apply commit and the
    # quarantine rewrite, then this batch_id was retried) must STILL
    # rewrite the quarantine — returning early would leave the already
    # -fixed rows as dead letters forever. The rewrite is idempotent:
    # still-bad is a pure function of the current quarantine contents.
    #
    # second pass of the same reject stage over `fixed` only (so a row
    # a drop-mode constraint still rejects stays a dead letter) — the
    # dead-letter tail is small by construction, so the extra count
    # job is trivial (Observation can't report here: a fully-fixed
    # tail writes zero rows, the write schedules zero tasks, and the
    # metrics never fire)
    still_bad = (
        RejectStage(fixed, cfg, table.constraints())
        .rejects.withColumn("batch_id", F.lit(batch_id))
        .persist()
    )
    try:
        # count BEFORE the overwrite: after it, still_bad's lineage
        # roots at the replaced (now orphaned) quarantine files — a
        # recompute there is wasted work and breaks outright if a GC
        # removes the orphans in between
        n_still = int(still_bad.count())
        quarantine.overwrite(still_bad, summary={"batch_id": batch_id})
    finally:
        still_bad.unpersist()
    res["still_quarantined"] = n_still
    return res
