"""CDC core: dedup, validation quarantine, full replay vs oracle,
exactly-once, skew salting."""

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import BooleanType

from dexspark.cdc.apply import apply_changes
from dexspark.cdc.dedup import dedupe_latest
from dexspark.cdc.generator import (
    expected_final_state,
    gen_change_log,
    with_replay_duplicates,
)
from dexspark.cdc.validate import REASON_COL, ValidationConfig, validate_events
from dexspark.lake.table import LakeTable

PAYLOAD_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _mk_table(spark, d, num_buckets=8):
    from pyspark.sql.types import _parse_datatype_string

    return LakeTable.create(
        spark, d, _parse_datatype_string(PAYLOAD_SCHEMA), "conv_id", num_buckets
    )


def test_dedupe_latest_basic(spark):
    df = spark.createDataFrame(
        [
            (1, "c1", 0, "a"),
            (5, "c1", 0, "b"),
            (3, "c1", 0, "c"),
            (2, "c2", 0, "d"),
            (5, "c1", 0, "b"),  # replay duplicate of the winner
        ],
        "lsn long, conv_id string, turn_idx int, text string",
    )
    for salt in (None, 4):
        got = {
            (r.conv_id, r.turn_idx, r.lsn, r.text)
            for r in dedupe_latest(df, ["conv_id", "turn_idx"], salt_buckets=salt).collect()
        }
        assert got == {("c1", 0, 5, "b"), ("c2", 0, 2, "d")}


def test_dedupe_plan_is_aggregate_not_window(spark):
    df = gen_change_log(spark, 1000)
    plan = dedupe_latest(df, ["conv_id", "turn_idx"])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # map-side combine must exist: duplicates collapse BEFORE the shuffle
    assert "partial_max" in plan

    narrow = dedupe_latest(
        df, ["conv_id", "turn_idx"], strategy="narrow"
    )._jdf.queryExecution().executedPlan().toString()
    # narrow strategy: hash-agg of (key, lsn), winners broadcast, events
    # filtered via LEFT SEMI without ever shuffling the payload
    assert "HashAggregate" in narrow
    assert "BroadcastHashJoin" in narrow and "LeftSemi" in narrow


def test_validate_quarantine_reasons(spark):
    log = gen_change_log(spark, 4000, bad_role_pct=5, ts_violation_pct=3)
    valid, rejects = validate_events(log)
    reasons = {r[REASON_COL] for r in rejects.select(REASON_COL).distinct().collect()}
    assert "bad_role" in reasons and "ts_not_monotonic" in reasons
    assert valid.count() + rejects.count() == 4000
    # payload checks only apply to non-deletes (delete events carry no payload)
    assert (
        valid.filter(
            (F.col("op") != "D")
            & ~F.col("role").isin("user", "assistant", "system", "tool")
        ).count()
        == 0
    )


@F.pandas_udf(BooleanType())
def _text_wellformed(text: pd.Series) -> pd.Series:
    """The reference text check, as an Arrow pandas UDF: non-empty
    after ``str.strip()``, no NUL bytes, NULL is malformed."""
    s = text.fillna("")
    return (s.str.strip().str.len() > 0) & ~s.str.contains("\x00", regex=False)


def test_text_check_modes_agree(spark):
    """The codegen text check must produce the verdicts of the pandas
    reference (an Arrow pandas UDF over Python's ``str.strip``) —
    including NULLs, every Python-whitespace-only string, NUL bytes,
    and unicode payloads. A divergence would make replay results
    depend on which definition of whitespace a check happens to use."""
    from dexspark.cdc.validate import _PY_WHITESPACE, flag_events

    edge_texts = (
        [None, "", " ", "\t\n\r", "a", " a ", "\x00", "hi\x00there",
         "\u00a0", "\u3000", "ünïcode", "x" * 5000, _PY_WHITESPACE]
        + [c for c in _PY_WHITESPACE]
        + [c + "y" for c in _PY_WHITESPACE]
    )
    rows = [
        (i, "I", "c1", i, "user", t, None, "2024-01-01 00:00:00")
        for i, t in enumerate(edge_texts)
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    cfg = ValidationConfig(check_ts_monotonic=False)
    expr = {
        r["lsn"]: r[REASON_COL]
        for r in flag_events(df, cfg).select("lsn", REASON_COL).collect()
    }
    want = {
        r["lsn"]: None if r["ok"] else "malformed_text"
        for r in df.select("lsn", _text_wellformed("text").alias("ok")).collect()
    }
    assert expr == want
    # sanity: the battery actually exercises both verdicts
    assert "malformed_text" in expr.values() and None in expr.values()


def test_ts_check_join_modes_agree(spark):
    """``ts_check_join="shuffle"``, the escape hatch for a batch whose
    key set outgrows the broadcast budget, must flag exactly the rows
    the default broadcast join flags, with the same reasons."""
    from dexspark.cdc.validate import flag_events

    log = gen_change_log(spark, 4000, bad_role_pct=5, ts_violation_pct=3)

    def verdicts(mode):
        flagged = flag_events(log, ValidationConfig(ts_check_join=mode))
        return sorted(
            flagged.select("lsn", "conv_id", "turn_idx", REASON_COL).collect(),
            key=lambda r: (r[0], r[1], r[2], r[3] or ""),
        )

    broadcast, shuffle = verdicts("broadcast"), verdicts("shuffle")
    assert len(broadcast) == 4000
    assert broadcast == shuffle
    reasons = [r[REASON_COL] for r in broadcast]
    assert reasons.count("ts_not_monotonic") > 0 and "bad_role" in reasons


def test_validate_required_fields_and_ops(spark):
    df = spark.createDataFrame(
        [
            (None, "I", "c1", 0, "user", "hi", None, "2024-01-01 00:00:00"),
            (1, "X", "c1", 0, "user", "hi", None, "2024-01-01 00:00:00"),
            (2, "I", "c1", 0, "user", "", None, "2024-01-01 00:00:00"),
            (3, "I", "c1", 1, "tool", "out", None, "2024-01-01 00:01:00"),  # missing tool
            (4, "D", "c1", 2, None, None, None, None),  # delete: payload checks skipped
            (5, "I", "c1", 3, "assistant", "ok", None, "2024-01-01 00:03:00"),
        ],
        "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    valid, rejects = validate_events(df)
    got = {r.lsn: r[REASON_COL] for r in rejects.collect()}
    assert got == {
        None: "missing_required_field",
        1: "bad_op",
        2: "malformed_text",
        3: "missing_tool",
    }
    assert {r.lsn for r in valid.collect()} == {4, 5}


def test_full_replay_matches_oracle(spark, tmp_table_dir):
    """Replay a multi-batch, out-of-order, duplicated log; final state
    must equal the independent window-based oracle."""
    log = with_replay_duplicates(gen_change_log(spark, 6000, n_convs=80, n_batches=4))
    table = _mk_table(spark, tmp_table_dir)
    for b in range(4):
        batch = log.filter(F.col("batch_seq") == b)
        res = apply_changes(table, batch, batch_id=f"b{b}")
        assert not res["skipped"] and res["applied"] > 0

    # oracle must respect batch boundaries: later batch always wins,
    # and within-batch latest-lsn wins — with full sequential replay of
    # all batches that equals global latest-lsn-wins.
    expected = expected_final_state(log)
    got = table.read()
    assert got.count() == expected.count()
    assert (
        got.exceptAll(expected).count() == 0
        and expected.exceptAll(got).count() == 0
    )


def test_exactly_once_reapply_is_noop(spark, tmp_table_dir):
    log = gen_change_log(spark, 2000, n_batches=2)
    table = _mk_table(spark, tmp_table_dir)
    b0 = log.filter(F.col("batch_seq") == 0)
    r1 = apply_changes(table, b0, batch_id="b0")
    v_after = table.current_version()
    state = sorted((r.conv_id, r.turn_idx, r.text) for r in table.read().collect())
    r2 = apply_changes(table, b0, batch_id="b0")  # replayed batch
    assert r2["skipped"] and r1["applied"] > 0
    assert table.current_version() == v_after
    assert sorted((r.conv_id, r.turn_idx, r.text) for r in table.read().collect()) == state


def test_skewed_replay_with_salting(spark, tmp_table_dir):
    log = gen_change_log(spark, 5000, n_convs=50, hot_conv_pct=40, n_batches=1)
    table = _mk_table(spark, tmp_table_dir)
    apply_changes(table, log, batch_id="b0", salt_buckets=8)
    expected = expected_final_state(log)
    got = table.read()
    assert got.exceptAll(expected).count() == 0 and expected.exceptAll(got).count() == 0
    hot = got.filter(F.col("conv_id") == "conv_0").count()
    assert hot > 0


def test_quarantine_and_lineage(spark, tmp_table_dir):
    from pyspark.sql.types import _parse_datatype_string

    log = gen_change_log(spark, 3000, bad_role_pct=10, n_batches=1)
    table = _mk_table(spark, tmp_table_dir)
    qschema = _parse_datatype_string(
        "lsn long, op string, batch_seq long, " + PAYLOAD_SCHEMA + f", {REASON_COL} string, batch_id string"
    )
    quarantine = LakeTable.create(spark, tmp_table_dir + "_q", qschema, "conv_id", 4)
    res = apply_changes(table, log, batch_id="b0", quarantine=quarantine)
    assert res["rejected"] > 0
    assert quarantine.read().count() == res["rejected"]
    ldf = table.lineage_df()
    row = ldf.agg(F.sum("applied").alias("a")).collect()[0]
    assert row.a == res["applied"]


def test_schema_evolution_mid_replay(spark, tmp_table_dir):
    table = _mk_table(spark, tmp_table_dir)
    log = gen_change_log(spark, 1000, n_batches=2)
    apply_changes(table, log.filter(F.col("batch_seq") == 0), batch_id="b0")
    # batch 1 arrives with a new column and widened turn_idx
    b1 = (
        log.filter(F.col("batch_seq") == 1)
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
        .withColumn("model", F.lit("m-1"))
    )
    apply_changes(table, b1, batch_id="b1")
    dt = dict(table.read().dtypes)
    assert dt["turn_idx"] == "bigint" and dt["model"] == "string"
    assert table.read().filter(F.col("model") == "m-1").count() > 0
    assert table.read().filter(F.col("model").isNull()).count() > 0


def test_reprocess_quarantine_roundtrip(spark, tmp_table_dir):
    """Dead-letter reprocessing: corrected quarantine rows rejoin the
    stream; still-invalid rows land back in quarantine."""
    import os

    from pyspark.sql.types import _parse_datatype_string

    from dexspark.cdc.apply import reprocess_quarantine
    from dexspark.cdc.generator import gen_change_log

    payload = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    table = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "t"), _parse_datatype_string(payload), "conv_id", 4
    )
    qschema = _parse_datatype_string(
        "lsn long, op string, batch_seq long, " + payload + ", reject_reason string, batch_id string"
    )
    q = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "q"), qschema, "conv_id", 4
    )
    # 20% bad roles -> quarantined on first pass
    log = gen_change_log(spark, 1000, n_convs=20, n_batches=1, bad_role_pct=20)
    res = apply_changes(table, log, batch_id="b0", quarantine=q)
    assert res["rejected"] > 0
    assert q.read().count() == res["rejected"]
    applied_before = table.read().count()

    def fix(df):
        return df.withColumn(
            "role",
            F.when(~F.col("role").isin("user", "assistant", "system", "tool"), "user")
            .otherwise(F.col("role")),
        )

    res2 = reprocess_quarantine(table, q, fix, batch_id="b0-retry")
    assert res2["rejected"] == 0 and res2["applied"] > 0
    # corrected rows merged (table grew or keys updated in place)
    assert table.read().count() >= applied_before
    # exactly-once still holds for the retry batch id
    res3 = reprocess_quarantine(table, q, fix, batch_id="b0-retry")
    assert res3["skipped"] is True


def test_reprocess_quarantine_converges(spark, tmp_table_dir):
    """Quarantine contents always equal the outstanding dead letters:
    a no-op fix leaves the same rows (no per-run duplicate copies), a
    real fix empties it."""
    import os

    from pyspark.sql.types import _parse_datatype_string

    from dexspark.cdc.apply import reprocess_quarantine
    from dexspark.cdc.generator import gen_change_log

    payload = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    table = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "t"), _parse_datatype_string(payload), "conv_id", 4
    )
    qschema = _parse_datatype_string(
        "lsn long, op string, batch_seq long, " + payload + ", reject_reason string, batch_id string"
    )
    q = LakeTable.create(spark, os.path.join(tmp_table_dir, "q"), qschema, "conv_id", 4)
    log = gen_change_log(spark, 600, n_convs=10, n_batches=1, bad_role_pct=25)
    res = apply_changes(table, log, batch_id="b0", quarantine=q)
    n_bad = res["rejected"]
    assert n_bad > 0 and q.read().count() == n_bad

    noop = lambda df: df  # noqa: E731
    r1 = reprocess_quarantine(table, q, noop, batch_id="r1")
    assert r1["still_quarantined"] == n_bad
    r2 = reprocess_quarantine(table, q, noop, batch_id="r2")
    # no duplicate copies pile up across reprocess runs
    assert r2["still_quarantined"] == n_bad
    assert q.read().count() == n_bad
    assert r2["rejected"] == n_bad  # metrics count outstanding rows once

    def fix(df):
        return df.withColumn(
            "role",
            F.when(~F.col("role").isin("user", "assistant", "system", "tool"), "user")
            .otherwise(F.col("role")),
        )

    r3 = reprocess_quarantine(table, q, fix, batch_id="r3")
    assert r3["still_quarantined"] == 0 and r3["applied"] > 0
    assert q.read().count() == 0


def test_replay_mor_equals_cow(spark, tmp_table_dir):
    """Full replay under merge-on-read (deltas + mid-replay compaction)
    must produce the identical final state as copy-on-write."""
    import os

    from pyspark.sql.types import _parse_datatype_string

    from dexspark.cdc.generator import gen_change_log

    payload = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    log = gen_change_log(spark, 3000, n_convs=40, n_batches=4)
    tables = {}
    for strat in ("cow", "mor"):
        t = LakeTable.create(
            spark, os.path.join(tmp_table_dir, strat),
            _parse_datatype_string(payload), "conv_id", 8,
        )
        for b in range(4):
            apply_changes(
                t, log.filter(F.col("batch_seq") == b),
                batch_id=f"{strat}{b}", strategy=strat,
            )
            if strat == "mor" and b == 1:
                t.compact()
        tables[strat] = t
    cow, mor = tables["cow"].read(), tables["mor"].read()
    assert cow.exceptAll(mor).count() == 0
    assert mor.exceptAll(cow).count() == 0
    # the MOR table really did defer work: deltas present after replay
    assert any(f.kind == "delta" for f in tables["mor"].manifest().files)


def test_quarantine_commits_before_merge_and_is_replay_safe(spark, tmp_table_dir):
    """Crash-window safety around the two commits of one batch: the
    quarantine append is ledger-gated and ordered BEFORE the merge, so
    every interleaving of a crash + checkpoint replay converges with
    the dead letters written exactly once."""
    from pyspark.sql.types import _parse_datatype_string

    log = gen_change_log(spark, 2000, bad_role_pct=10, n_batches=1)
    qschema = _parse_datatype_string(
        "lsn long, op string, batch_seq long, " + PAYLOAD_SCHEMA
        + f", {REASON_COL} string, batch_id string"
    )

    # interleaving A: crash AFTER quarantine, BEFORE merge (simulated
    # by pre-committing the quarantine under the batch id) — the retry
    # must apply the table WITHOUT duplicating the dead letters
    table = _mk_table(spark, tmp_table_dir + "/a")
    q = LakeTable.create(spark, tmp_table_dir + "/aq", qschema, "conv_id", 4)
    from dexspark.cdc.validate import flag_events

    rejects = flag_events(log).filter(F.col(REASON_COL).isNotNull())
    q.append(
        rejects.withColumn("batch_id", F.lit("b0")), summary={"batch_id": "b0"}
    )
    n_q = q.read().count()
    res = apply_changes(table, log, batch_id="b0", quarantine=q)
    assert not res.get("skipped") and res["applied"] > 0
    assert q.read().count() == n_q  # not duplicated

    # interleaving B: crash AFTER merge (simulated by a checkpoint
    # replay of a fully committed batch) — early skip, quarantine
    # already present from the pre-merge append
    res2 = apply_changes(table, log, batch_id="b0", quarantine=q)
    assert res2["skipped"]
    assert q.read().count() == n_q


def test_evolve_skips_narrower_incoming_type(spark, tmp_table_dir):
    """A producer still emitting int where the table already widened to
    long must not crash the ingest — alignment casts it up."""
    table = _mk_table(spark, tmp_table_dir)
    log = gen_change_log(spark, 1000, n_batches=2)
    wide = log.filter(F.col("batch_seq") == 0).withColumn(
        "turn_idx", F.col("turn_idx").cast("long")
    )
    apply_changes(table, wide, batch_id="w0")  # widens int -> long
    narrow = log.filter(F.col("batch_seq") == 1)  # still int
    res = apply_changes(table, narrow, batch_id="w1")  # must not raise
    assert res["applied"] > 0
    assert dict(table.read().dtypes)["turn_idx"] == "bigint"
