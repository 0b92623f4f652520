"""Per-record validation with a quarantine channel.

≙ reference validation gates: event-type filter (FnRouter.kt:72-75),
required-field checks (FnRouter.kt:80-84), per-record CSV validation
with an error side-channel (FnCSVValidationGeneric.kt:30-48,
FnOrchestrator.kt:95-111). There, invalid records short-circuit a
branch and hit a custom/global error function; here, invalid rows are
split into a rejects DataFrame (with a machine-readable reason) that
the caller quarantines and counts in lineage.

All checks are vectorized: enum / null / text well-formedness checks
are pure Catalyst expressions (whole-stage-codegen'd, no Python worker
on the hot path); the ts-monotonicity check is a running-max-per-
conv_id aggregate joined back broadcast-style.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

REASON_COL = "reject_reason"

# closed vocabulary of reasons flag_events can emit (metrics are
# observed per reason, so additions here must stay in sync)
REASONS = (
    "missing_required_field",
    "bad_op",
    "bad_role",
    "missing_tool",
    "text_too_large",
    "malformed_text",
    "ts_not_monotonic",
)

DEFAULT_ROLES = ("user", "assistant", "system", "tool")
DEFAULT_OPS = ("I", "U", "D")


@dataclass
class ValidationConfig:
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    lsn_col: str = "lsn"
    op_col: str = "op"
    ops: tuple[str, ...] = DEFAULT_OPS
    delete_op: str = "D"
    role_col: str = "role"
    roles: tuple[str, ...] = DEFAULT_ROLES
    tool_col: str = "tool"
    tool_required_roles: tuple[str, ...] = ("tool",)
    text_col: str = "text"
    ts_col: str = "ts"
    check_ts_monotonic: bool = True
    max_text_bytes: int = 1 << 20
    # how the per-turn watermark joins back onto the event stream for
    # the ts-monotonicity check. "broadcast" (default): the watermark
    # table is O(distinct (conv, turn) in the batch) — bounded by
    # trigger sizing — so broadcasting it keeps the wide event stream
    # from ever shuffling for this check. "shuffle": plain join, for the
    # pathological batch whose key set outgrows the broadcast budget.
    ts_check_join: str = "broadcast"


# every character Python's str.strip() treats as whitespace (the chars
# for which str.isspace() is True) — so the expression check below
# agrees with Python's str.strip() character-for-character
_PY_WHITESPACE = "".join(
    # U+3000 IDEOGRAPHIC SPACE is the highest whitespace codepoint
    chr(c) for c in range(0x3001) if chr(c).isspace()
)


def text_wellformed_expr(col: F.Column) -> F.Column:
    """Text well-formedness as pure Catalyst: non-empty after
    stripping Python-whitespace, no NUL bytes; NULL text is malformed
    (returns False).

    It fuses into the same whole-stage-codegen span as the enum/null
    checks, where a pandas UDF would force an Arrow
    serialize→Python→deserialize round-trip of the full text column
    for every batch — measurable at 16M-event scale.
    A test in `tests/test_cdc_core.py` pins it to a pandas reference
    (``str.strip``) across the whitespace/NUL edge battery.
    """
    stripped_nonempty = F.coalesce(
        F.length(F.btrim(col, F.lit(_PY_WHITESPACE))), F.lit(0)
    ) > 0
    has_nul = F.coalesce(F.contains(col, F.lit("\x00")), F.lit(False))
    return stripped_nonempty & ~has_nul


def validate_events(
    events: DataFrame, cfg: ValidationConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split events into (valid, rejects). ``rejects`` carries
    ``reject_reason``; ``valid`` has the input schema unchanged."""
    flagged = flag_events(events, cfg)
    valid = flagged.filter(F.col(REASON_COL).isNull()).drop(REASON_COL)
    rejects = flagged.filter(F.col(REASON_COL).isNotNull())
    return valid, rejects


def flag_events(events: DataFrame, cfg: ValidationConfig | None = None) -> DataFrame:
    """Single-pass variant: input plus a ``reject_reason`` column (NULL
    = valid). Callers that need both sides should persist THIS frame
    and filter twice — one compute instead of two."""
    cfg = cfg or ValidationConfig()
    cols = set(events.columns)
    is_delete = F.col(cfg.op_col) == F.lit(cfg.delete_op)

    # keys/lsn/op are the CDC contract — mandatory for every payload
    # shape, so a missing column here is deliberately an analysis
    # error, never a skipped check
    required_null = F.lit(False)
    for k in (*cfg.key_cols, cfg.lsn_col, cfg.op_col):
        required_null = required_null | F.col(k).isNull()

    # content checks BIND TO COLUMNS: a payload without the configured
    # role/tool/text column (e.g. a documents stream next to the
    # transcript stream) simply has those checks not applicable —
    # config-driven per stream, like the reference's per-route
    # validation functions. A transcript payload carries all of them,
    # so its behavior is unchanged.
    checks: list[tuple] = [
        (required_null, "missing_required_field"),
        (~F.col(cfg.op_col).isin(*cfg.ops), "bad_op"),
    ]
    if cfg.role_col in cols:
        checks.append(
            (
                ~is_delete
                & ~F.coalesce(F.col(cfg.role_col), F.lit("")).isin(*cfg.roles),
                "bad_role",
            )
        )
        if cfg.tool_col in cols:
            checks.append(
                (
                    ~is_delete
                    & F.col(cfg.role_col).isin(*cfg.tool_required_roles)
                    & (F.coalesce(F.trim(F.col(cfg.tool_col)), F.lit("")) == ""),
                    "missing_tool",
                )
            )
    if cfg.text_col in cols:
        checks.append(
            (
                ~is_delete
                & (F.octet_length(F.col(cfg.text_col)) > cfg.max_text_bytes),
                "text_too_large",
            )
        )
        wellformed = text_wellformed_expr(F.col(cfg.text_col))
        checks.append((~is_delete & ~wellformed, "malformed_text"))

    reason = F.when(checks[0][0], F.lit(checks[0][1]))
    for cond, tag in checks[1:]:
        reason = reason.when(cond, F.lit(tag))

    if cfg.check_ts_monotonic and cfg.ts_col in cols:
        # ts must be >= every STRICTLY EARLIER turn's ts within the same
        # conv (revisions of the same turn never compare against each
        # other). A window over the raw events would shuffle + sort the
        # whole batch; instead: (1) hash-aggregate max(ts) per (conv,
        # turn) — partial agg collapses the batch map-side; (2) running
        # max over the (small) distinct-turn set; (3) join the per-turn
        # prev-max back — EXPLICITLY broadcast by default, so the wide
        # event stream never shuffles for this check. The broadcast
        # must be explicit: the watermark table's size ESTIMATE
        # exceeds autoBroadcastJoinThreshold at realistic batch sizes
        # (e.g. 1.28M turns ≈ 30-40 MB), so leaving it to AQE plans a
        # SortMergeJoin that shuffles + sorts every event row — at
        # 16M events that one join measured ~16s of a ~27s batch,
        # the single largest cost in the pipeline. The watermark side
        # is O(distinct keys per micro-batch) — trigger-bounded —
        # which is what makes the broadcast safe; ts_check_join=
        # "shuffle" is the escape hatch for a batch whose key set
        # outgrows the broadcast budget.
        #
        # The watermark is fed ONLY by rows that pass every earlier
        # check and are not deletes: a row already being quarantined
        # (e.g. bad_role with a broken producer clock) must not poison
        # the running max and cascade-reject the valid tail of its
        # conversation; deletes are exempt from the flag, so their ts
        # must be symmetric and not raise the bar either.
        if len(cfg.key_cols) < 2:
            raise ValueError(
                "check_ts_monotonic needs composite key_cols (entity, "
                "sequence): the running max is per key_cols[:-1], "
                "ordered by key_cols[-1]"
            )
        prev_col = "_prev_max_ts"
        clean = events.withColumn("_pre_reason", reason).filter(
            F.col("_pre_reason").isNull() & ~is_delete
        )
        turn_agg = clean.groupBy(*cfg.key_cols).agg(
            F.max(F.col(cfg.ts_col)).alias("_turn_ts"),
            F.min(F.col(cfg.ts_col)).alias("_turn_min"),
        )
        w = (
            Window.partitionBy(*cfg.key_cols[:-1])
            .orderBy(F.col(cfg.key_cols[-1]))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # a turn can contain a violating event ONLY if the running max
        # of earlier turns exceeds the turn's own min(ts): every event
        # of the turn has ts >= _turn_min, so prev_max <= _turn_min
        # proves no event satisfies ts < prev_max. Keeping only these
        # potentially-violating turns shrinks the broadcast side from
        # O(distinct turns in batch) to O(turns near a violation) —
        # ~the violation rate in healthy data (measured 1.28M -> ~40k
        # at 16M events / 3% violations) — while the verdict stays
        # bit-identical: dropped turns would have joined a watermark
        # no event compares below.
        prev = (
            turn_agg.select(
                *cfg.key_cols,
                F.max("_turn_ts").over(w).alias(prev_col),
                F.col("_turn_min"),
            )
            .filter(F.col(prev_col) > F.col("_turn_min"))
            .select(*cfg.key_cols, prev_col)
        )
        if cfg.ts_check_join not in ("broadcast", "shuffle"):
            raise ValueError(
                f"unknown ts_check_join mode: {cfg.ts_check_join!r}"
            )
        if cfg.ts_check_join == "broadcast":
            prev = F.broadcast(prev)
        orig_cols = events.columns
        events = events.join(prev, on=list(cfg.key_cols), how="left")
        reason = reason.when(
            ~is_delete
            & F.col(prev_col).isNotNull()
            & (F.col(cfg.ts_col) < F.col(prev_col)),
            F.lit("ts_not_monotonic"),
        )
        return events.withColumn(REASON_COL, reason).select(*orig_cols, REASON_COL)

    return events.withColumn(REASON_COL, reason)
