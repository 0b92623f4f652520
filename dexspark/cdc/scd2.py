"""SCD Type-2 apply — full-history CDC materialization.

Where ``apply_changes`` keeps only the latest image per key (SCD1,
the reference pipeline's routed-copy semantics), this module keeps
EVERY accepted version as a row with an LSN validity interval —
the "STORED AS SCD TYPE 2" shape of Delta Live Tables' APPLY CHANGES
and the audit-table pattern warehouses build off a binlog. ≙ the
reference's replay-aware staging (FnOrchestrator.kt:194-204): the
history table IS the replay log made queryable, so "what did this
transcript turn say when batch N was live?" is a filter, not a
restore.

History row contract (keys + payload + four system-ish columns,
all visible — they are the queryable product):

- ``valid_from_lsn``   — LSN of the event that opened this version
- ``valid_to_lsn``     — LSN of the event that closed it (NULL = open)
- ``closed_by_delete`` — the closing event was a D (vs a newer image)
- ``is_current``       — valid_to_lsn IS NULL

Incremental + commutative: each batch rebuilds the interval chain of
ONLY the keys it touches, from (stored versions ∪ new events), and
upserts the rebuilt rows via the lake merge on
(key…, valid_from_lsn). Stored versions losslessly encode all prior
accepted events (each version's opening event, plus D events
recoverable from ``closed_by_delete``), so replaying batches in ANY
order converges to the same history — a late batch with LSNs that
land between two stored versions splits the interval exactly as an
in-order replay would. Exactly-once rides the table's batch ledger
like the SCD1 path.

Scale shape: per batch, O(batch) keys are touched; the read of
existing history is bucket-pruned to the batch's buckets and
semi-joined down to touched keys, so cost is O(history of touched
keys), never O(table). No Python on the data path.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from dexspark.cdc.apply import RejectStage, maybe_evolve_schema
from dexspark.cdc.validate import ValidationConfig
from dexspark.lake.table import BROADCAST_THRESHOLD, LakeTable

SCD2_COLS = ("valid_from_lsn", "valid_to_lsn", "closed_by_delete", "is_current")


def scd2_schema(payload: StructType) -> StructType:
    """History-table schema for a given payload schema."""
    return StructType(
        list(payload.fields)
        + [
            StructField("valid_from_lsn", LongType(), False),
            StructField("valid_to_lsn", LongType(), True),
            StructField("closed_by_delete", BooleanType(), False),
            StructField("is_current", BooleanType(), False),
        ]
    )


def _rebuild(events: DataFrame, key_cols: list[str], payload: list[str]) -> DataFrame:
    """Interval chain from a complete per-key event set: each non-D
    event opens a version [lsn, next-lsn); the next event (image or D)
    closes it. A D event NOT immediately preceded by an image (first
    event of its key, or following another D) closes nothing *yet* —
    but a later-arriving image with a smaller LSN may need it, so it
    is kept as a zero-length MARKER row (valid_from == valid_to,
    closed_by_delete, never current). ``scd2_view`` hides markers;
    reconstruction replays them. One window pass over (key, lsn) —
    Spark's external sort, no driver state, no Python."""
    w = Window.partitionBy(*key_cols).orderBy(F.col("lsn").asc())
    chained = (
        events.withColumn("_next_lsn", F.lead("lsn").over(w))
        .withColumn("_next_op", F.lead("op").over(w))
        .withColumn("_prev_op", F.lag("op").over(w))
    )
    is_d = F.col("op") == "D"
    dangling = is_d & (F.col("_prev_op").isNull() | (F.col("_prev_op") == "D"))
    return chained.filter(~is_d | dangling).select(
        *key_cols,
        *[c for c in payload if c not in key_cols],
        F.col("lsn").cast("long").alias("valid_from_lsn"),
        F.when(dangling, F.col("lsn"))
        .otherwise(F.col("_next_lsn"))
        .cast("long")
        .alias("valid_to_lsn"),
        (dangling | F.coalesce(F.col("_next_op") == "D", F.lit(False))).alias(
            "closed_by_delete"
        ),
        (~dangling & F.col("_next_lsn").isNull()).alias("is_current"),
    )


def _is_marker() -> "F.Column":
    return F.col("valid_to_lsn").eqNullSafe(F.col("valid_from_lsn"))


def scd2_view(history_df: DataFrame) -> DataFrame:
    """The logical SCD2 history: version rows only (zero-length
    dangling-delete markers are physical bookkeeping, not versions)."""
    return history_df.filter(~_is_marker())


def _stored_as_events(history: DataFrame, payload: list[str]) -> DataFrame:
    """Loss-less inverse of _rebuild: every stored version re-emits its
    opening event; versions closed by a delete — and dangling-delete
    markers — re-emit that D event at the closing LSN (payload carried
    but semantically ignored)."""
    opens = history.filter(~_is_marker()).select(
        F.col("valid_from_lsn").alias("lsn"), F.lit("I").alias("op"), *payload
    )
    deletes = history.filter(F.col("closed_by_delete")).select(
        F.col("valid_to_lsn").alias("lsn"), F.lit("D").alias("op"), *payload
    )
    return opens.unionByName(deletes)


def scd2_temporal_join(
    facts: DataFrame,
    history_df: DataFrame,
    key_cols: list[str],
    at_col: str = "lsn",
    value_cols: list[str] | None = None,
    suffix: str = "_dim",
    how: str = "inner",
) -> DataFrame:
    """Enrich each fact row with the dimension VERSION that was valid
    at the fact's LSN — the classic fact-to-SCD2-dimension temporal
    join (``h.valid_from_lsn <= at < h.valid_to_lsn``, open version =
    +inf): "what did this transcript turn say when event ``at``
    happened?" as a join, with the SCD2 table playing the warehouse
    dimension.

    Built on the as-of operator (operators/asof.py): per key the
    version intervals are disjoint and ordered, so the version with
    the greatest ``valid_from_lsn <= at`` is the ONLY candidate — one
    union + ordered-window pass, exactly one shuffle on the key, no
    interval-join row multiplication, whole-stage codegen throughout.
    The candidate then passes the coverage test ``at < valid_to``
    (NULL = open), which is what distinguishes "the key was live with
    this version" from "the key had been deleted by then".

    ``how="inner"`` keeps covered facts; ``how="left"`` keeps every
    fact with NULL dimension columns when no version covers it.
    Output = facts' columns + ``valid_from_lsn{suffix}`` +
    ``valid_to_lsn{suffix}`` + ``{value}{suffix}`` per value column
    (default: the dimension payload minus the keys)."""
    from dexspark.operators.asof import asof_join

    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if at_col not in facts.columns:
        raise ValueError(f"facts lack the {at_col!r} column")
    if value_cols is None:
        value_cols = [
            f.name
            for f in history_df.schema.fields
            if f.name not in key_cols and f.name not in SCD2_COLS
        ]
    versions = scd2_view(history_df).select(
        *key_cols,
        F.col("valid_from_lsn").alias(at_col),
        *value_cols,
        "valid_to_lsn",
    )
    joined = asof_join(
        facts,
        versions,
        on=at_col,
        by=key_cols,
        value_cols=value_cols + ["valid_to_lsn"],
        suffix=suffix,
    )
    vf = F.col(f"{at_col}{suffix}")
    vt = F.col(f"valid_to_lsn{suffix}")
    covered = vf.isNotNull() & (vt.isNull() | (F.col(at_col) < vt))
    if how == "inner":
        joined = joined.filter(covered)
        gate = lambda c: c  # noqa: E731 — already filtered
    else:
        gate = lambda c: F.when(covered, c)  # noqa: E731
    return joined.select(
        *facts.columns,
        gate(vf).alias(f"valid_from_lsn{suffix}"),
        gate(vt).alias(f"valid_to_lsn{suffix}"),
        *[gate(F.col(f"{c}{suffix}")).alias(f"{c}{suffix}") for c in value_cols],
    )


def apply_changes_scd2(
    history: LakeTable,
    events: DataFrame,
    batch_id: str,
    cfg: ValidationConfig | None = None,
    quarantine: LakeTable | None = None,
    extra_summary: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Validate → rebuild touched keys' interval chains → merge.

    ``extra_summary``: caller metadata folded into the merge commit's
    summary (the snapshot watermark for snapshot-derived batches —
    cdc/snapshot.py); reserved keys win.

    ``history`` must have been created with ``scd2_schema(payload)``
    and bucketed on a key column. Idempotent on ``batch_id`` (ledger
    no-op). Batches may arrive in any order; see module docstring.
    """
    cfg = cfg or ValidationConfig()
    if batch_id in history.committed_batch_ids():
        return {"batch_id": batch_id, "skipped": True, "reason": "already_committed"}

    # north-rule schema evolution applies to the history table too: a
    # batch carrying a new payload column (or a widening) issues the
    # DDL before the rebuild, so earlier versions read back with NULLs
    # and rebuilt interval rows carry the evolved shape
    maybe_evolve_schema(history, events)

    key_cols = list(cfg.key_cols)
    payload = [
        f.name for f in history.schema().fields if f.name not in SCD2_COLS
    ]

    # drop-mode expectations bind to the SCD2 ingest path through the
    # same reject stage as apply_changes: a violating NEW image is
    # quarantined with reason constraint:<name> instead of opening a
    # history version (deletes exempt per the standard contract).
    # Fail-mode invariants are enforced by merge's stats pass over the
    # rebuilt rows — the rows actually written.
    stage = RejectStage(events, cfg, history.constraints(), quarantine)
    new_ev = None
    try:
        new_ev = (
            stage.valid.select("lsn", "op", *payload)
            .dropDuplicates(key_cols + ["lsn"])  # redelivered segments
            .persist()
        )

        # bucket-prune the history read to the batch's buckets (one
        # small job: ≤ num_buckets rows), then semi-join down to the
        # touched keys. n_keys also sizes the broadcast decision.
        m = history.manifest()
        stats = (
            new_ev.groupBy(history._bucket_expr(m).alias("_b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        buckets = sorted(int(r["_b"]) for r in stats)
        n_events = int(sum(r["n"] for r in stats))

        keys = new_ev.select(*key_cols).distinct()
        if n_events <= BROADCAST_THRESHOLD:
            keys = F.broadcast(keys)
        stored = history.read(buckets=buckets).join(
            keys, on=key_cols, how="left_semi"
        )

        # stored versions win ties against a redelivered copy of the
        # same (key, lsn) event — deterministic, and by the CDC
        # contract the payloads are identical anyway. The dedup is a
        # lag() under the SAME (key)-hash partitioning the interval
        # rebuild sorts on, so stored∪new shuffles exactly ONCE: the
        # obvious alternative (row_number over (key, lsn)) partitions
        # by a different key set and would insert a second exchange.
        all_ev = _stored_as_events(stored, payload).withColumn(
            "_src", F.lit(0)
        ).unionByName(new_ev.withColumn("_src", F.lit(1)))
        w_sort = Window.partitionBy(*key_cols).orderBy(
            F.col("lsn").asc(), F.col("_src").asc()
        )
        all_ev = (
            all_ev.withColumn(
                "_is_dup",
                F.coalesce(
                    F.lag("lsn").over(w_sort) == F.col("lsn"), F.lit(False)
                ),
            )
            .filter(~F.col("_is_dup"))
            .drop("_is_dup", "_src")
        )

        full_rebuilt = _rebuild(all_ev, key_cols, payload).withColumn(
            "op", F.lit("U")
        )
        # feed the merge ONLY changed/new version rows: a version's
        # payload can never change (it is its opening event), so a
        # stored row is dirty iff its interval fields moved. Most of a
        # touched key's history is untouched by any one batch — without
        # this filter the merge shuffles and LWW-resolves every stored
        # version of every touched key, per batch.
        prev = stored.select(
            *key_cols,
            "valid_from_lsn",
            F.col("valid_to_lsn").alias("_p_to"),
            F.col("closed_by_delete").alias("_p_cbd"),
            F.col("is_current").alias("_p_cur"),
        )
        unchanged = (
            F.col("valid_to_lsn").eqNullSafe(F.col("_p_to"))
            & (F.col("closed_by_delete") == F.col("_p_cbd"))
            & (F.col("is_current") == F.col("_p_cur"))
        )
        rebuilt = (
            full_rebuilt.join(prev, on=key_cols + ["valid_from_lsn"], how="left")
            .filter(F.col("_p_cbd").isNull() | ~unchanged)
            .drop("_p_to", "_p_cbd", "_p_cur")
        )
        # a marker whose D got consumed by a later-arriving earlier
        # image no longer exists in the rebuilt chain — delete it.
        # Stored VERSION rows always reappear (their opening event is
        # in the rebuild input), so this anti-join — against the FULL
        # rebuild, not the changed-rows feed, or still-dangling markers
        # would be wrongly deleted — can only yield consumed markers;
        # it is empty on in-order replays.
        stale = stored.filter(_is_marker()).join(
            full_rebuilt.select(*key_cols, "valid_from_lsn"),
            on=key_cols + ["valid_from_lsn"],
            how="left_anti",
        ).withColumn("op", F.lit("D"))
        rebuilt = rebuilt.unionByName(stale)

        # the stats job above materialized the reject observation
        n_rejected, rejected_by_reason = stage.counts()
        stage.to_quarantine(batch_id, n_rejected)

        info = history.merge(
            rebuilt,
            key_cols=key_cols + ["valid_from_lsn"],
            op_col="op",
            lsn_col=None,  # rebuilt rows replace wholesale (LWW);
            # commutativity lives in the rebuild, not the gate
            summary={
                **(extra_summary or {}),
                "batch_id": batch_id,
                "events": n_events,
                "rejected": n_rejected,
                "rejected_by_reason": rejected_by_reason,
                "touched_buckets": buckets,
            },
        )
        return {
            "batch_id": batch_id,
            "skipped": False,
            "events": n_events,
            "rejected": n_rejected,
            "rejected_by_reason": rejected_by_reason,
            "merge": info,
        }
    finally:
        if new_ev is not None:
            new_ev.unpersist()
        stage.unpersist()
