"""CDC replay family: batch + streaming replay, schema evolution,
SCD2, snapshots, WAP, routed fan-out, mirrors/exports, constraints,
audits — each paired with its exact DuckDB oracle."""

from __future__ import annotations
import os
import tempfile
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import _parse_datatype_string
from dexspark.cdc.apply import apply_changes
from dexspark.lake.table import LakeTable

from dexspark.queries._common import (  # noqa: F401
    BATCH,
    FLAGGED_CTE,
    LOG_CTE,
    PAYLOAD,
    REASON_SQL,
    _MID_LATEST,
    _replay_with_midpoint,
    batch_range,
    derive_log,
)


def cdc_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full engine replay (validate → dedup → COW merge per
    batch) of the derived log into a fresh LakeTable; returns the final
    table state."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    batches = batch_range(log)
    for b in batches:
        apply_changes(
            table, log.filter(F.col("batch_seq") == b), batch_id=f"b{b}"
        )
    return table.read()


def cdc_stream_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship STREAMING path (≙ RouteIngestedFile.kt:13-20 event tail
    + FnOrchestrator.kt:194-204 replay-awareness): the derived log
    lands as parquet segments, a Structured-Streaming file tail
    (CdcStreamReplay: checkpoint + batch ledger) applies them via
    foreachBatch, the query STOPS mid-stream, new segments land, and a
    FRESH replay instance resumes from the same checkpoint — the
    restart must neither lose nor double-apply. Final state equals the
    batch oracle because LSN-gated merge makes replay batching-
    invariant."""
    from dexspark.sources.changelog import log_schema as mk_log_schema
    from dexspark.streaming.replay import CdcStreamReplay

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    log_dir = os.path.join(d, "log")
    cp = os.path.join(d, "cp")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    thr = (batch_range(log).stop + 1) // 2
    seg = log.repartition(4, F.col("batch_seq"))  # 1 file per batch dir
    (
        seg.filter(F.col("batch_seq") < thr)
        .write.partitionBy("batch_seq").parquet(log_dir)
    )

    def replayer() -> CdcStreamReplay:
        return CdcStreamReplay(
            spark, table, log_dir + "/*", cp, mk_log_schema(),
            max_files_per_trigger=2, batch_id_prefix="sq",
        )

    replayer().run_available()  # first half of the log, then stop
    (
        seg.filter(F.col("batch_seq") >= thr)
        .write.mode("append").partitionBy("batch_seq").parquet(log_dir)
    )
    replayer().run_available()  # restart: checkpoint resume, new segments
    return table.read()


def cdc_stream_replay_mor_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming × merge-on-read composition under the hard oracle:
    the same tail / checkpoint / mid-stream-restart harness as
    ``cdc_stream_replay_final_state``, but every micro-batch commits
    O(batch) delta files and the replay's maintain policy compacts any
    bucket that holds 2 outstanding deltas (the production pairing for
    a long-running MOR ingest).
    Crossing a restart AND the base/delta boundary must still land on
    the batch oracle's exact final state."""
    from dexspark.sources.changelog import log_schema as mk_log_schema
    from dexspark.streaming.replay import CdcStreamReplay

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    log_dir = os.path.join(d, "log")
    cp = os.path.join(d, "cp")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    thr = (batch_range(log).stop + 1) // 2
    seg = log.repartition(4, F.col("batch_seq"))
    (
        seg.filter(F.col("batch_seq") < thr)
        .write.partitionBy("batch_seq").parquet(log_dir)
    )

    def replayer() -> CdcStreamReplay:
        return CdcStreamReplay(
            spark, table, log_dir + "/*", cp, mk_log_schema(),
            max_files_per_trigger=2, batch_id_prefix="sm",
            strategy="mor",
            maintain_policy={"compact_delta_depth": 2},
        )

    replayer().run_available()
    (
        seg.filter(F.col("batch_seq") >= thr)
        .write.mode("append").partitionBy("batch_seq").parquet(log_dir)
    )
    replayer().run_available()
    return table.read()


def cdc_rollback_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-batch remediation under the hard oracle: snapshot ROLLBACK
    (≙ Iceberg ``rollback_to_snapshot`` / Delta RESTORE; the
    reference's replay-from-checkpoint recovery, FnOrchestrator.kt:
    182-192, as an O(1) metadata operation). Replay the first half of
    the log, merge a POISONED copy of the next batch (payload mangled
    upstream), ``rollback()`` to the last good snapshot, and resume
    the corrected replay. The corrected batch re-applies under its
    ORIGINAL batch id — the rollback rewound the exactly-once ledger —
    so the final state must be byte-equal to the clean full-replay
    oracle: poisoned residue OR a ledger that still no-ops the re-apply
    both hash-mismatch."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    batches = batch_range(log)
    mid = (batches.start + batches.stop) // 2
    for b in range(batches.start, mid):
        apply_changes(table, log.filter(F.col("batch_seq") == b), batch_id=f"rb{b}")
    good = table.current_version()
    poison = log.filter(F.col("batch_seq") == mid).withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit("CORRUPT"))
    )
    apply_changes(table, poison, batch_id=f"rb{mid}")
    table.rollback(good)
    for b in range(mid, batches.stop):
        apply_changes(table, log.filter(F.col("batch_seq") == b), batch_id=f"rb{b}")
    return table.read()


def cdc_wap_publish_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish under the hard oracle (≙ Iceberg branch
    refs / the reference's staged destination, RouteIngestedFile.kt:
    57-75: data lands in staging and fans out only after it is
    durable). Every batch after the first half is STAGED on a branch,
    audited, and only then atomically published to main; one batch
    arrives poisoned, fails its audit, is dropped branch-and-all (main
    never sees it), and the corrected batch re-stages under the
    ORIGINAL batch id — legal because the dropped branch's ledger died
    with it, while published ids fold into main's exactly-once ledger
    (a re-publish or direct re-apply no-ops). Final state must be
    byte-equal to the clean full-replay oracle."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    batches = batch_range(log)
    mid = (batches.start + batches.stop) // 2
    for b in range(batches.start, mid):
        apply_changes(table, log.filter(F.col("batch_seq") == b), batch_id=f"wp{b}")
    for b in range(mid, batches.stop):
        batch = log.filter(F.col("batch_seq") == b)
        if b == mid:  # the poisoned delivery: stage, audit-fail, drop
            br = table.create_branch(f"stage-{b}-bad")
            poison = batch.withColumn(
                "text", F.concat_ws(" ", F.col("text"), F.lit("CORRUPT"))
            )
            apply_changes(br, poison, batch_id=f"wp{b}")
            audit_ok = br.read().filter(
                F.col("text").endswith("CORRUPT")
            ).isEmpty()
            assert not audit_ok
            table.drop_branch(f"stage-{b}-bad")
        br = table.create_branch(f"stage-{b}")
        apply_changes(br, batch, batch_id=f"wp{b}")
        table.publish_branch(f"stage-{b}")
    return table.read()


def cdc_replay_debezium_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-envelope ingestion (≙ the reference's third-party wire
    format at the ingest boundary, EventSchema.kt:4-10 — parse only the
    fields we care about): the derived log is shipped as real Debezium
    JSON envelopes (before/after images, op codes c/u/d, source.lsn,
    epoch-micros timestamps; deletes carry a KEY-ONLY before image as
    under REPLICA IDENTITY DEFAULT), landed as text segments, parsed
    back by a single from_json projection (sources/debezium.py — no
    UDF, no shuffle), and replayed. Key-only deletes are lossless by
    construction here: a D event contributes only (key, lsn) to the
    LWW merge and validation never rejects deletes, so the final state
    must equal the plain-parquet replay oracle byte-for-byte."""
    from dexspark.sources.debezium import read_debezium, to_debezium

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    log_dir = os.path.join(d, "dbzlog")
    to_debezium(log).repartition(8).write.text(log_dir)
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    relog = read_debezium(spark, log_dir).withColumn(
        "batch_seq", F.expr(f"lsn div {BATCH}")
    )
    for b in batch_range(relog):
        apply_changes(table, relog.filter(F.col("batch_seq") == b), batch_id=f"z{b}")
    return table.read()


def cdc_replay_gzip_log_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-segment ingestion (≙ FnDecompressor.kt:38-139 for the
    transport case): the change log lands as gzip'd JSON-lines segments
    (Debezium-style shippers gzip their output); the file source
    decompresses per file inside the scan — no staging pass — and the
    replay is byte-identical to the parquet path. (.gz is NOT
    byte-range splittable: one file = one task, so segment size is the
    parallelism knob; the reader notes parquet as the scale default.)"""
    from dexspark.sources.changelog import read_log

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    log_dir = os.path.join(d, "gzlog")
    (
        log.repartition(4, F.col("batch_seq"))
        .write.partitionBy("batch_seq")
        .option("compression", "gzip")
        .json(log_dir)
    )
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    relog = read_log(spark, log_dir, fmt="json")
    for b in batch_range(relog):
        apply_changes(table, relog.filter(F.col("batch_seq") == b), batch_id=f"g{b}")
    return table.read()


def cdc_replay_compacted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake maintenance under the hard oracle: full replay, then
    ``compact()`` (small-file bin-packing) and ``expire_snapshots()``
    (vacuum to the live snapshot) — the maintained table must read back
    EXACTLY the pre-maintenance state. Guards the invariant that
    maintenance touches layout, never data (system columns preserved,
    tombstones not resurrected)."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    for b in batch_range(log):
        apply_changes(table, log.filter(F.col("batch_seq") == b), batch_id=f"c{b}")
    table.compact()
    table.expire_snapshots(keep_last=1)
    return table.read()


def cdc_replay_layout_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only layout evolution under the hard oracle (≙ Iceberg
    partition-spec evolution, realized for hash buckets): the replay
    starts on an 8-bucket table, ``evolve_layout(32)`` flips the
    layout MID-REPLAY as an O(metadata) commit — zero data movement —
    and the remaining batches ingest into a MIXED-layout table where
    every COW merge incrementally migrates exactly the key-space
    closure it touches (lake/layout.py's gcd algebra keeps reads,
    point-lookup pruning, and LSN-gated merges key-exact throughout).
    A final ``maintain()`` pass migrates the cold stragglers via its
    ``stale_layout`` trigger; the converged table must equal the
    fixed-layout serial-replay oracle bit-for-bit. This is the 100 TB
    resize story: a table that outgrew its bucket count gets new-write
    parallelism immediately, with migration amortized into rewrites
    that were happening anyway."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=8,
    )
    batches = batch_range(log)
    thr = (batches.stop + 1) // 3
    for b in batches:
        if b == thr:
            info = table.evolve_layout(32)
            assert info["num_buckets"] == 32  # metadata-only commit landed
        apply_changes(table, log.filter(F.col("batch_seq") == b), batch_id=f"L{b}")
    # converge stragglers (bounded per run — loop like a scheduler would)
    while not table.layout_status()["migrated"]:
        table.maintain(
            compact_min_files=10_000, compact_delta_depth=10_000,
            migrate_layout_groups=8,
        )
    assert all(f.layout == 32 for f in table.manifest().files)
    return table.read()


def cdc_replay_concurrent_maintenance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-race hardening under the hard oracle (round-3 verdict
    item #1): the full replay runs while a MAINTENANCE THREAD
    repeatedly compacts the same table — a scheduled OPTIMIZE racing a
    live ingest, the exact scenario where an unhandled CommitConflict
    used to kill one writer. Optimistic retry-with-rebase
    (lake/table.py::_commit_delta: compactions are content-preserving,
    so COW rewrites rebase over them; compact recomputes when data
    lands mid-rewrite) must land EVERY batch exactly once, whatever
    the interleaving — so the final state equals the serial-replay
    oracle bit-for-bit. ≙ the reference's at-least-once activity retry
    under Durable Functions (FnOrchestrator.kt:182-192)."""
    import threading

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    done = threading.Event()
    maint_errors: list[Exception] = []

    def maintainer() -> None:
        from dexspark.lake.table import CommitConflict

        while not done.is_set():
            try:
                table.compact(min_files_per_bucket=1)
            except CommitConflict:
                # maintenance yields to the data plane; next scheduled
                # run retries — never the ingest's problem
                pass
            except Exception as e:  # pragma: no cover
                maint_errors.append(e)
                return
            done.wait(0.5)

    th = threading.Thread(target=maintainer)
    th.start()
    try:
        for b in batch_range(log):
            apply_changes(
                table, log.filter(F.col("batch_seq") == b), batch_id=f"x{b}"
            )
    finally:
        done.set()
        th.join(timeout=300)
    assert not maint_errors, maint_errors
    return table.read()


def cdc_replay_dual_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO concurrent ingest writers on one table — a multi-source
    tail (e.g. two producers' binlog segments) applied by independent
    jobs without coordination. Unlike the maintenance race (layout vs
    data), both writers here mutate DATA in overlapping buckets, so
    losing commits must RECOMPUTE against the winner's state, not
    rebase — LakeTable._transact under LakeTable.merge. LSN-gated
    merge makes the interleaving irrelevant: the final state must
    equal a serial replay of the union bit-for-bit. Each writer's
    batches stay ordered within its own thread (per-source ordering,
    the Kafka-partition guarantee); cross-source order is arbitrary."""
    import threading

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    batches = list(batch_range(log))
    errors: list[Exception] = []

    def writer(src: int) -> None:
        try:
            for b in batches:
                if b % 2 == src:
                    apply_changes(
                        table,
                        log.filter(F.col("batch_seq") == b),
                        batch_id=f"s{src}b{b}",
                    )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(s,)) for s in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    return table.read()


def cdc_routed_fanout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed multi-table ingest — the reference's core demux topology
    (ingest → config route → per-destination store,
    RouteIngestedFile.kt:44-66) run as a STREAMING fan-out: one change
    log tailed once, every micro-batch demuxed by a broadcast config
    lookup into three lake tables (alpha/beta + the "?" fallback,
    fileconfigs.json:17-22), each destination exactly-once via its OWN
    ledger. The stream stops mid-log and a fresh instance resumes from
    the checkpoint, so redelivery crosses the fan-out boundary: a
    replayed batch must no-op on destinations that already committed
    it. Result = union of the three final states stamped with their
    destination; the oracle is the global LWW replay + the same route
    CASE (the route is a pure function of conv_id, so demux-then-LWW
    equals LWW-then-stamp)."""
    from dexspark.cdc.router import RoutedCdcStreamReplay
    from dexspark.operators.routing import routes_df
    from dexspark.sources.changelog import log_schema as mk_log_schema

    log = derive_log(spark, sf_dir)
    conv_n = F.substring("conv_id", 6, 10).cast("int")
    log = log.withColumn(
        "stream_id",
        F.when(
            F.pmod(conv_n, 5) == 0,
            F.concat(F.lit("gamma_"), F.pmod(conv_n, 3).cast("string")),
        )
        .when(F.pmod(conv_n, 2) == 0, F.lit("alpha"))
        .otherwise(F.lit("beta")),
    )
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    tables = {
        r: LakeTable.create(
            spark, os.path.join(d, r),
            _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=8,
        )
        for r in ("alpha", "beta", "misc")
    }
    routes = routes_df(
        spark,
        [
            {"route": "alpha", "message_types": ["alpha"]},
            {"route": "beta", "message_types": ["beta"]},
        ],
    )
    log_dir = os.path.join(d, "log")
    cp = os.path.join(d, "cp")
    thr = (batch_range(log).stop + 1) // 2
    seg = log.repartition(4, F.col("batch_seq"))
    (
        seg.filter(F.col("batch_seq") < thr)
        .write.partitionBy("batch_seq").parquet(log_dir)
    )

    def replayer() -> RoutedCdcStreamReplay:
        return RoutedCdcStreamReplay(
            spark, tables, routes, log_dir + "/*", cp,
            mk_log_schema("stream_id string"), type_col="stream_id",
            max_files_per_trigger=2, batch_id_prefix="rt",
        )

    replayer().run_available()
    (
        seg.filter(F.col("batch_seq") >= thr)
        .write.mode("append").partitionBy("batch_seq").parquet(log_dir)
    )
    replayer().run_available()  # checkpoint resume across the fan-out
    out = None
    for r in sorted(tables):
        part = tables[r].read().withColumn("destination", F.lit(r))
        out = part if out is None else out.unionByName(part)
    return out.select(
        "destination", "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def cdc_routed_atomic_catalog_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed fan-out upgraded to BATCH-ATOMIC cross-table visibility
    (cdc/router.py ``apply_routed(catalog=...)`` × lake/catalog.py):
    each applied batch ends with ONE atomic pin-set commit over all
    destination tables, so a consumer joining destinations through the
    catalog never observes a half-fanned-out batch. The query drives
    the crash window explicitly: batch b2 is applied to ONLY the
    alpha destination (the mid-fan-out crash — alpha's head advances,
    the pins do not), and the catalog read is asserted UNCHANGED while
    the direct read differs; the resumed ``apply_routed`` under the
    same batch id then no-ops alpha via its ledger, applies the rest,
    and republishes the pins only once the family is whole. Final
    result = union of the per-destination CATALOG reads; oracle = the
    global LWW replay + route CASE (identical to the plain fan-out —
    atomicity must not change the converged state)."""
    from dexspark.cdc.router import apply_routed
    from dexspark.lake.catalog import Catalog
    from dexspark.operators.routing import ROUTE_COL, route_by_config, routes_df

    log = derive_log(spark, sf_dir)
    conv_n = F.substring("conv_id", 6, 10).cast("int")
    log = log.withColumn(
        "stream_id",
        F.when(
            F.pmod(conv_n, 5) == 0,
            F.concat(F.lit("gamma_"), F.pmod(conv_n, 3).cast("string")),
        )
        .when(F.pmod(conv_n, 2) == 0, F.lit("alpha"))
        .otherwise(F.lit("beta")),
    )
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    tables = {
        r: LakeTable.create(
            spark, os.path.join(d, r),
            _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=8,
        )
        for r in ("alpha", "beta", "misc")
    }
    routes = routes_df(
        spark,
        [
            {"route": "alpha", "message_types": ["alpha"]},
            {"route": "beta", "message_types": ["beta"]},
        ],
    )
    cat = Catalog.create(spark, os.path.join(d, "catalog"), tables)
    # four LSN-quartile slices = four batches at ANY scale factor
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    step = max(1, (int(hi) - int(lo) + 4) // 4)
    cuts = [int(lo) + i * step for i in range(5)]
    cuts[4] = int(hi) + 1

    def sl(i: int) -> DataFrame:
        return log.filter(
            (F.col("lsn") >= cuts[i]) & (F.col("lsn") < cuts[i + 1])
        )

    for i in (0, 1):
        r = apply_routed(tables, sl(i), routes, batch_id=f"ac{i}",
                         type_col="stream_id", catalog=cat)
        assert "catalog_version" in r, r
    consistent_v = cat.current_version()
    pre_alpha = cat.read("alpha").count()

    # -- crash window: batch ac2 lands on alpha ONLY ------------------
    stamped = route_by_config(sl(2), routes, type_col="stream_id")
    alpha_slice = stamped.filter(F.col(ROUTE_COL) == "alpha").drop(
        ROUTE_COL, "stream_id"
    )
    apply_changes(tables["alpha"], alpha_slice, batch_id="ac2")
    # pins unmoved: the catalog still shows the pre-batch family even
    # though alpha's head advanced
    assert cat.current_version() == consistent_v
    assert cat.read("alpha").count() == pre_alpha
    assert tables["alpha"].read().count() != pre_alpha

    # -- redelivery completes the family, pins advance atomically -----
    r2 = apply_routed(tables, sl(2), routes, batch_id="ac2",
                      type_col="stream_id", catalog=cat)
    assert r2["routes"]["alpha"]["skipped"], r2["routes"]["alpha"]
    assert r2["catalog_version"] == consistent_v + 1
    # a redelivery of the whole batch moves nothing and publishes no pin
    r3 = apply_routed(tables, sl(2), routes, batch_id="ac2",
                      type_col="stream_id", catalog=cat)
    assert "catalog_version" not in r3
    apply_routed(tables, sl(3), routes, batch_id="ac3",
                 type_col="stream_id", catalog=cat)

    out = None
    for r in sorted(tables):
        part = cat.read(r).withColumn("destination", F.lit(r))
        out = part if out is None else out.unionByName(part)
    return out.select(
        "destination", "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def cdc_routed_wap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level multi-table write-audit-publish (cdc/router.py
    ``apply_routed_wap`` — VERDICT r4 #7): every destination's slice
    is staged on a per-table WAP branch, audited while main refs AND
    catalog pins are untouched, then published + pinned atomically-
    together. The query drives the poison path explicitly: batch w1 is
    first delivered CORRUPTED (texts stamped POISON); the audit reads
    the staged branches, fails, and the whole family is dropped with
    ZERO movement — main versions and the catalog version are asserted
    unchanged, and the batch id is released. The corrected restage
    under the SAME batch id publishes everywhere and advances the pins
    once. Final result = union of catalog reads; oracle = the global
    LWW replay + route CASE (same as the plain fan-out — staging must
    not change the converged state)."""
    from dexspark.cdc.router import apply_routed_wap
    from dexspark.lake.catalog import Catalog
    from dexspark.operators.routing import routes_df

    log = derive_log(spark, sf_dir)
    conv_n = F.substring("conv_id", 6, 10).cast("int")
    log = log.withColumn(
        "stream_id",
        F.when(
            F.pmod(conv_n, 5) == 0,
            F.concat(F.lit("gamma_"), F.pmod(conv_n, 3).cast("string")),
        )
        .when(F.pmod(conv_n, 2) == 0, F.lit("alpha"))
        .otherwise(F.lit("beta")),
    )
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    tables = {
        r: LakeTable.create(
            spark, os.path.join(d, r),
            _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=8,
        )
        for r in ("alpha", "beta", "misc")
    }
    routes = routes_df(
        spark,
        [
            {"route": "alpha", "message_types": ["alpha"]},
            {"route": "beta", "message_types": ["beta"]},
        ],
    )
    cat = Catalog.create(spark, os.path.join(d, "catalog"), tables)

    def clean_audit(route, bt, res):
        return bt.read().filter(F.col("text").contains("POISON")).first() is None

    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    step = max(1, (int(hi) - int(lo) + 3) // 3)
    cuts = [int(lo) + i * step for i in range(4)]
    cuts[3] = int(hi) + 1

    def sl(i: int) -> DataFrame:
        return log.filter(
            (F.col("lsn") >= cuts[i]) & (F.col("lsn") < cuts[i + 1])
        )

    r0 = apply_routed_wap(tables, sl(0), routes, batch_id="w0",
                          catalog=cat, audit=clean_audit)
    assert r0["published"] and "catalog_version" in r0, r0
    cat_v = cat.current_version()
    main_vs = {r: tables[r].current_version() for r in tables}

    # -- poisoned delivery: audited on the branches, dropped whole ----
    poisoned = sl(1).withColumn(
        "text",
        F.when(
            F.pmod(F.col("lsn"), 3) == 0,
            F.concat_ws(" ", F.col("text"), F.lit("POISON")),
        ).otherwise(F.col("text")),
    )
    r1 = apply_routed_wap(tables, poisoned, routes, batch_id="w1",
                          catalog=cat, audit=clean_audit)
    assert r1["published"] is False and r1["failed_audit"], r1
    # zero movement anywhere: pins, main heads, branch list
    assert cat.current_version() == cat_v
    for r in tables:
        assert tables[r].current_version() == main_vs[r], r
        assert tables[r].list_branches() == [], r

    # -- corrected restage under the SAME batch id --------------------
    r1b = apply_routed_wap(tables, sl(1), routes, batch_id="w1",
                           catalog=cat, audit=clean_audit)
    assert r1b["published"] and r1b["catalog_version"] == cat_v + 1, r1b
    # full redelivery is a no-op (batch ids folded into main ledgers)
    r1c = apply_routed_wap(tables, sl(1), routes, batch_id="w1",
                           catalog=cat, audit=clean_audit)
    assert "catalog_version" not in r1c and r1c["published"], r1c
    apply_routed_wap(tables, sl(2), routes, batch_id="w2",
                     catalog=cat, audit=clean_audit)

    out = None
    for r in sorted(tables):
        part = cat.read(r).withColumn("destination", F.lit(r))
        out = part if out is None else out.unionByName(part)
    return out.select(
        "destination", "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


ORACLE_ROUTED_FANOUT = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged WHERE reject_reason IS NULL
)
SELECT CASE WHEN CAST(substr(conv_id, 6) AS INTEGER) % 5 = 0 THEN 'misc'
            WHEN CAST(substr(conv_id, 6) AS INTEGER) % 2 = 0 THEN 'alpha'
            ELSE 'beta' END AS destination,
       conv_id, turn_idx, role, text, tool, ts
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def cdc_replay_mor_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read replay under the hard oracle: every micro-batch
    commits O(batch) delta files (no bucket rewrite — the write path
    for high-frequency batches at 10^10 events), a mid-replay
    ``compact()`` folds the first half's deltas into base, and the
    remaining batches land as deltas on top of the compacted base. The
    final state must equal the COW replay bit-for-bit — read-time
    max-LSN resolution ≡ the COW write-time gate, across tombstones,
    out-of-order LSNs, and the base/delta boundary."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    batches = batch_range(log)
    mid = (batches.start + batches.stop) // 2
    for b in batches:
        apply_changes(
            table, log.filter(F.col("batch_seq") == b),
            batch_id=f"m{b}", strategy="mor",
        )
        if b == mid:
            table.compact()
    return table.read()


def cdc_feed_mirror_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed CDC loop under the hard oracle: replay half the log
    into an upstream table, MIRROR its change feed into a downstream
    table (per-snapshot diffs applied with the version as LSN —
    log → table → change feed → table), replay the rest, mirror again
    (resumes from the dst ledger), and return the DOWNSTREAM state.
    The mirror subscriber never sees the original log, only snapshot
    diffs, and the downstream table uses a different bucket count — so
    matching the replay oracle proves the feed is a complete, exactly
    -once change stream and the mirror re-buckets it correctly."""
    from dexspark.lake.changes import mirror_table

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    src = LakeTable.create(
        spark, os.path.join(d, "upstream"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    dst = LakeTable.create(
        spark, os.path.join(d, "downstream"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=8,
    )
    batches = batch_range(log)
    mid = (batches.start + batches.stop) // 2
    for b in batches:
        apply_changes(
            src, log.filter(F.col("batch_seq") == b), batch_id=f"f{b}"
        )
        if b == mid:
            mirror_table(src, dst, key_cols=["conv_id", "turn_idx"])
    mirror_table(src, dst, key_cols=["conv_id", "turn_idx"])
    # exactly-once: re-running the mirror finds every version already
    # in the dst ledger and applies nothing
    assert mirror_table(src, dst, key_cols=["conv_id", "turn_idx"]) == []
    return dst.read()


def cdc_agg_view_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained rollup under the hard oracle
    (lake/matview.py): replay the log into a transcript table while a
    per-conversation aggregate VIEW (n_rows / sum of text length / sum
    of turn_idx) is kept current off the table's own change feed —
    refreshed after the first batch (initial build), mid-replay, and at
    head (two composed multi-version catch-ups over inserts, updates,
    AND deletes). The view is returned; the oracle recomputes the
    rollup from scratch over the final replayed state, so matching it
    proves the delta algebra (−old +new per changed row, group
    retirement at zero) is exact — the dashboard never re-reads the
    100 TB base table. A final re-refresh must be a ledger no-op
    (exactly-once). ≙ the reference's staged pub-sub consumers
    (eventgridsystemtopic/dex-rs-file-ingested/template.json:48-106),
    with an aggregate subscriber instead of a copy."""
    from dexspark.lake.matview import create_agg_view, refresh_agg_view

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    group, sums = ["conv_id"], {
        "sum_len": "length(text)",
        "sum_turn": "turn_idx",
    }
    # MIN/MAX exercise the partially-self-maintainable path: the log's
    # deletes and updates routinely remove a group's stored extremum,
    # forcing the dirty-group source rescan (matview._delta_rows)
    mins = {"min_len": "length(text)"}
    maxs = {"max_turn": "turn_idx"}
    view = create_agg_view(
        spark, os.path.join(d, "conv_rollup"), table, group, sums,
        num_buckets=8, min_exprs=mins, max_exprs=maxs,
    )

    def refresh():
        return refresh_agg_view(
            table, view, group, sums, min_exprs=mins, max_exprs=maxs
        )

    batches = batch_range(log)
    mid = (batches.start + batches.stop) // 2
    for b in batches:
        apply_changes(table, log.filter(F.col("batch_seq") == b), batch_id=f"v{b}")
        if b in (batches.start, mid):
            info = refresh()
            assert info and info["view_mode"] == "incremental"
    # final catch-up (a no-op at tiny SFs where mid == last batch) …
    info = refresh()
    assert info is None or info["view_mode"] == "incremental"
    # … and re-running the refresh is ALWAYS a ledger no-op
    assert refresh() is None
    return view.read().select(
        "conv_id", "n_rows", "sum_len", "sum_turn", "min_len", "max_turn"
    )


ORACLE_AGG_VIEW = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged WHERE reject_reason IS NULL
),
state AS (
  SELECT conv_id, turn_idx, text FROM latest WHERE rn = 1 AND op <> 'D'
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(length(text)) AS BIGINT) AS sum_len,
       CAST(SUM(turn_idx) AS BIGINT) AS sum_turn,
       CAST(MIN(length(text)) AS BIGINT) AS min_len,
       CAST(MAX(turn_idx) AS BIGINT) AS max_turn
FROM state GROUP BY conv_id
"""


def cdc_stream_agg_view_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming × materialized-view composition under the hard
    oracle: the file-tail replay harness of
    ``cdc_stream_replay_final_state`` (checkpoint, mid-stream stop,
    fresh-instance resume) with a per-conversation rollup SUBSCRIBED
    via ``CdcStreamReplay(views=[AggViewSpec(...)])`` — every applied
    micro-batch is followed by an incremental view refresh, so the
    rollup trails the table by at most one trigger. Returning the VIEW
    (not the table) and matching the recompute oracle proves the
    incremental delta algebra stays exact across micro-batch
    boundaries, a checkpoint restart, and replayed batches (the
    restart's skipped batch must catch the view up, not double-apply)."""
    from dexspark.lake.matview import AggViewSpec, create_agg_view
    from dexspark.sources.changelog import log_schema as mk_log_schema
    from dexspark.streaming.replay import CdcStreamReplay

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    log_dir = os.path.join(d, "log")
    cp = os.path.join(d, "cp")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    group, sums = ["conv_id"], {
        "sum_len": "length(text)",
        "sum_turn": "turn_idx",
    }
    mins = {"min_len": "length(text)"}
    maxs = {"max_turn": "turn_idx"}
    view = create_agg_view(
        spark, os.path.join(d, "conv_rollup"), table, group, sums,
        num_buckets=8, min_exprs=mins, max_exprs=maxs,
    )
    thr = (batch_range(log).stop + 1) // 2
    seg = log.repartition(4, F.col("batch_seq"))
    (
        seg.filter(F.col("batch_seq") < thr)
        .write.partitionBy("batch_seq").parquet(log_dir)
    )

    def replayer() -> CdcStreamReplay:
        return CdcStreamReplay(
            spark, table, log_dir + "/*", cp, mk_log_schema(),
            max_files_per_trigger=2, batch_id_prefix="sv",
            views=[AggViewSpec(view, group, sums,
                               min_exprs=mins, max_exprs=maxs)],
        )

    replayer().run_available()  # first half, then stop
    (
        seg.filter(F.col("batch_seq") >= thr)
        .write.mode("append").partitionBy("batch_seq").parquet(log_dir)
    )
    replayer().run_available()  # checkpoint resume; view must follow
    return view.read().select(
        "conv_id", "n_rows", "sum_len", "sum_turn", "min_len", "max_turn"
    )


def conv_progress_stateful_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming (applyInPandasWithState) under the
    hard oracle: per-conversation running progress over the raw change
    stream. Each micro-batch emits the cumulative state row per conv;
    n_events strictly grows, so keeping each conv's max-n_events row
    recovers the FINAL state deterministically — whatever the file/
    micro-batch split was. The oracle computes the same totals
    relationally."""
    from dexspark.streaming.stateful import conversation_progress

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    log_dir = os.path.join(d, "slog")
    log.repartition(4, F.col("batch_seq")).write.partitionBy("batch_seq").parquet(log_dir)
    stream = (
        spark.readStream.schema(
            _parse_datatype_string("lsn long, op string, batch_seq long, " + PAYLOAD)
        )
        .option("maxFilesPerTrigger", 2)  # force several stateful batches
        .parquet(log_dir + "/*")
    )
    out = conversation_progress(stream.select("conv_id", "turn_idx", "role", "lsn"))
    sink = f"conv_progress_{abs(hash(d)) % 10**9}"
    q = (
        out.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", os.path.join(d, "cp"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    emitted = spark.table(sink)
    final = emitted.groupBy("conv_id").agg(
        F.max(
            F.struct("n_events", "max_lsn", "max_turn", "last_role")
        ).alias("s")
    )
    return final.select(
        "conv_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.max_turn").alias("max_turn"),
        F.col("s.last_role").alias("last_role"),
        F.col("s.max_lsn").alias("max_lsn"),
    )


ORACLE_CONV_PROGRESS = f"""
WITH {LOG_CTE},
agg AS (
  SELECT conv_id, count(*) AS n_events, max(turn_idx) AS max_turn,
         max(lsn) AS max_lsn
  FROM log GROUP BY conv_id
)
SELECT a.conv_id, a.n_events, a.max_turn, l.role AS last_role, a.max_lsn
FROM agg a JOIN log l ON l.conv_id = a.conv_id AND l.lsn = a.max_lsn
"""


def cdc_schema_rename_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column RENAME + DROP mid-lifecycle under the hard oracle
    (field-id alignment, lake/table.py::rename_column/drop_column —
    the Iceberg capability by-name alignment cannot give). Replay the
    first half, rename ``text`` → ``body`` (metadata-only: zero data
    I/O, old files read back under the new name BY ID), replay the
    rest with the upstream log now carrying ``body`` (validation
    re-bound via ValidationConfig(text_col="body") so the reject set
    is unchanged), then DROP ``tool`` and RE-ADD it — the re-added
    column must read NULL everywhere (fresh field id: dropped data
    stays dead; the classic by-name resurrection bug). The oracle is
    the plain LWW replay with ``text AS body`` and ``NULL AS tool``,
    so the hash pins rename transparency, mixed-generation reads, and
    non-resurrection at once. MOR deltas land across the rename
    boundary (old-name delta files resolve against new-name merges)."""
    from dexspark.cdc.validate import ValidationConfig

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    step = max(1, (int(hi) - int(lo) + 4) // 4)
    cuts = [int(lo) + i * step for i in range(5)]
    cuts[4] = int(hi) + 1
    for i in range(4):
        sl = log.filter(
            (F.col("lsn") >= cuts[i]) & (F.col("lsn") < cuts[i + 1])
        )
        if i < 2:
            apply_changes(
                table, sl, batch_id=f"rn{i}",
                strategy="cow" if i == 0 else "mor",
            )
        else:
            apply_changes(
                table,
                sl.withColumnRenamed("text", "body"),
                batch_id=f"rn{i}",
                cfg=ValidationConfig(text_col="body"),
                strategy="mor" if i == 2 else "cow",
            )
        if i == 1:
            table.rename_column("text", "body")
    assert table.schema().fieldNames() == [
        "conv_id", "turn_idx", "role", "body", "tool", "ts"
    ]
    table.drop_column("tool")
    table.evolve_schema(
        _parse_datatype_string(
            "conv_id string, turn_idx int, role string, body string, "
            "ts timestamp, tool string"
        )
    )
    return table.read().select(
        "conv_id", "turn_idx", "role", "body", "tool", "ts"
    )


ORACLE_SCHEMA_RENAME = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged WHERE reject_reason IS NULL
)
SELECT conv_id, turn_idx, role, text AS body,
       CAST(NULL AS VARCHAR) AS tool, ts
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def cdc_change_feed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed read-back (Delta table_changes / Iceberg changelog
    analogue): diff the mid-replay snapshot against the final one into
    I/U/D rows (D carries the old payload). The oracle recomputes both
    states relationally and classifies the same diff."""
    from dexspark.lake.changes import table_changes

    table, v_mid = _replay_with_midpoint(spark, sf_dir)
    return table_changes(table, v_mid, key_cols=["conv_id", "turn_idx"])


ORACLE_CHANGE_FEED = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
thr AS (SELECT (max(batch_seq) + 2) // 2 AS t FROM log),
{_MID_LATEST},
mid AS (
  SELECT conv_id, turn_idx, role, text, tool, ts
  FROM latest WHERE rn = 1 AND op <> 'D'
),
latest_all AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged WHERE reject_reason IS NULL
),
fin AS (
  SELECT conv_id, turn_idx, role, text, tool, ts
  FROM latest_all WHERE rn = 1 AND op <> 'D'
),
j AS (
  SELECT
    coalesce(m.conv_id, f.conv_id) AS conv_id,
    coalesce(m.turn_idx, f.turn_idx) AS turn_idx,
    CASE WHEN f.conv_id IS NOT NULL THEN f.role ELSE m.role END AS role,
    CASE WHEN f.conv_id IS NOT NULL THEN f.text ELSE m.text END AS text,
    CASE WHEN f.conv_id IS NOT NULL THEN f.tool ELSE m.tool END AS tool,
    CASE WHEN f.conv_id IS NOT NULL THEN f.ts ELSE m.ts END AS ts,
    CASE WHEN m.conv_id IS NULL THEN 'I'
         WHEN f.conv_id IS NULL THEN 'D'
         WHEN NOT (m.role IS NOT DISTINCT FROM f.role
               AND m.text IS NOT DISTINCT FROM f.text
               AND m.tool IS NOT DISTINCT FROM f.tool
               AND m.ts   IS NOT DISTINCT FROM f.ts) THEN 'U' END AS op
  FROM mid m FULL OUTER JOIN fin f
    ON m.conv_id = f.conv_id AND m.turn_idx = f.turn_idx
)
SELECT conv_id, turn_idx, role, text, tool, ts, op FROM j WHERE op IS NOT NULL
"""


def cdc_dedup_latest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dexspark.cdc.dedup import dedupe_latest

    log = derive_log(spark, sf_dir).drop("batch_seq")
    return dedupe_latest(log, ["conv_id", "turn_idx"], salt_buckets=4)


ORACLE_DEDUP = f"""
WITH {LOG_CTE},
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT lsn, op, conv_id, turn_idx, role, text, tool, ts FROM r WHERE rn = 1
"""


def conv_assembly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation assembly under the hard oracle — the north rule's
    'per-turn text equality under stable (conv_id, turn_idx) ordering'
    checked end-to-end: LWW final state (max-LSN dedup incl. tombstone
    drops), then each conversation's surviving turns concatenated in
    turn order into ONE document (the shape a training pipeline
    tokenizes). The collect_list is bounded by turns-per-conversation
    (conversations are short by construction; the aggregate shuffles
    one row per turn, grouped on the same key the table is bucketed
    by), and array_sort gives a deterministic in-group order without a
    global sort."""
    from dexspark.cdc.dedup import dedupe_latest

    log = derive_log(spark, sf_dir).drop("batch_seq")
    final = dedupe_latest(log, ["conv_id", "turn_idx"]).filter(
        F.col("op") != "D"
    )
    parts = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
    )
    return final.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.concat_ws(
            "\n", F.transform(parts, lambda x: x["text"])
        ).alias("conv_text"),
    )


ORACLE_CONV_ASSEMBLY = f"""
WITH {LOG_CTE},
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       coalesce(string_agg(text, chr(10) ORDER BY turn_idx), '') AS conv_text
FROM r WHERE rn = 1 AND op <> 'D'
GROUP BY conv_id
"""


def cdc_validate_rejects_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dexspark.cdc.validate import REASON_COL, validate_events

    log = derive_log(spark, sf_dir)
    _, rejects = validate_events(log)
    return (
        rejects.groupBy(F.col(REASON_COL).alias("reject_reason"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_REJECTS = f"""
WITH {LOG_CTE}, {FLAGGED_CTE}
SELECT reject_reason, count(*) AS n FROM flagged
WHERE reject_reason IS NOT NULL GROUP BY reject_reason
"""


def cdc_validate_ts_monotonic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ts-monotonicity validation stage under the hard oracle
    (north-rule requirement: per-conv ts monotone by turn). The derived
    log's ts is deterministically REGRESSED by 2h on lsn % 23 == 0, so
    those rows land strictly before every earlier turn's max. Returns
    every rejected row with its reason — the oracle mirrors the full
    reason chain INCLUDING the engine's exact monotonicity semantics:
    per-(conv, turn) max ts, running max over strictly earlier turns,
    reject when a non-delete row's ts falls below it (the engine
    computes this as agg + broadcast join-back, never a shuffle of the
    event stream — dexspark/cdc/validate.py:116-146)."""
    from dexspark.cdc.validate import REASON_COL, flag_events

    log = derive_log(spark, sf_dir)
    jitter = (
        F.when(F.pmod(F.col("lsn"), 23) == 0, F.lit(-7200))
        .otherwise(F.lit(0))
        .cast("long")
    )
    log = log.withColumn(
        "ts", F.timestamp_seconds(F.unix_timestamp(F.col("ts")) + jitter)
    )
    flagged = flag_events(log)
    return flagged.filter(F.col(REASON_COL).isNotNull()).select(
        "lsn", "conv_id", "turn_idx", REASON_COL
    )


ORACLE_TS_MONOTONIC = f"""
WITH {LOG_CTE},
j AS (
  SELECT * REPLACE (
    ts + INTERVAL (CASE WHEN lsn % 23 = 0 THEN -7200 ELSE 0 END) SECOND AS ts
  ) FROM log
),
pre AS (
  SELECT j.*,
    CASE WHEN op = 'D' THEN NULL
         WHEN role NOT IN ('user', 'assistant', 'system', 'tool')
           THEN 'bad_role'
         WHEN role = 'tool' AND (tool IS NULL OR trim(tool) = '')
           THEN 'missing_tool'
         WHEN text IS NULL OR trim(text) = '' THEN 'malformed_text'
         END AS pre_reason
  FROM j
),
-- the watermark is fed only by rows passing every earlier check and
-- not deletes (mirrors dexspark/cdc/validate.py: a quarantined row's
-- broken clock must not cascade-reject the valid conversation tail)
tm AS (
  SELECT conv_id, turn_idx, MAX(ts) AS turn_ts FROM pre
  WHERE pre_reason IS NULL AND op <> 'D' GROUP BY 1, 2
),
pm AS (
  SELECT conv_id, turn_idx, MAX(turn_ts) OVER (
    PARTITION BY conv_id ORDER BY turn_idx
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM tm
),
f AS (
  SELECT pre.*, pm.prev_max,
    CASE WHEN pre_reason IS NOT NULL THEN pre_reason
         WHEN op = 'D' THEN NULL
         WHEN prev_max IS NOT NULL AND ts < prev_max
           THEN 'ts_not_monotonic'
         END AS reject_reason
  FROM pre LEFT JOIN pm USING (conv_id, turn_idx)
)
SELECT lsn, conv_id, turn_idx, reject_reason
FROM f WHERE reject_reason IS NOT NULL
"""


def cdc_replay_constrained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-declared CHECK constraints under the hard oracle
    (lake/constraints.py — ≙ Delta ADD CONSTRAINT / DLT expectations;
    the reference's per-record rules, FnCSVValidationGeneric.kt:30-48,
    promoted from pipeline config to TABLE metadata so every writer
    sees them). A full replay with two constraints live:

    - ``turn_cap`` (drop-mode expectation): ``turn_idx < 14`` — every
      non-delete event for turns 14/15 is quarantined with reason
      ``constraint:turn_cap`` by the apply pipeline's validation pass
      (riding the same Observation; zero extra jobs), so those keys
      exist in the final state only if a delete tombstoned them.
    - ``turn_floor`` (fail-mode invariant): ``turn_idx >= 0`` — holds
      for the whole log; proves a live hard invariant costs the hot
      path nothing and blocks nothing when satisfied.

    The oracle appends the constraint to the validator's reason chain
    (validation reasons bind first — a bad_role row that also breaks
    the cap reports bad_role in both engines) and replays LWW."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    table.add_constraint("turn_cap", "turn_idx < 14", on_violation="drop")
    table.add_constraint("turn_floor", "turn_idx >= 0", on_violation="fail")
    for b in batch_range(log):
        apply_changes(
            table, log.filter(F.col("batch_seq") == b), batch_id=f"b{b}"
        )
    return table.read()


ORACLE_REPLAY_CONSTRAINED = f"""
WITH {LOG_CTE},
flagged AS (
  SELECT *,
    CASE WHEN op = 'D' THEN NULL
         WHEN role NOT IN ('user', 'assistant', 'system', 'tool')
           THEN 'bad_role'
         WHEN role = 'tool' AND (tool IS NULL OR trim(tool) = '')
           THEN 'missing_tool'
         WHEN text IS NULL OR trim(text) = '' THEN 'malformed_text'
         WHEN NOT (turn_idx < 14) THEN 'constraint:turn_cap'
         END AS reject_reason
  FROM log
),
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged WHERE reject_reason IS NULL
)
SELECT conv_id, turn_idx, role, text, tool, ts
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def cdc_lineage_batches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch lineage after a real replay: applied (post-dedup) rows,
    rejected rows, lsn range — read back from the committed manifest
    summaries (the metrics table), not recomputed from the log."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    batches = batch_range(log)
    for b in batches:
        apply_changes(table, log.filter(F.col("batch_seq") == b), batch_id=f"b{b}")
    return (
        table.lineage_df()
        .groupBy("batch_id")
        .agg(
            F.sum("applied").alias("applied"),
            F.min("start_lsn").alias("start_lsn"),
            F.max("end_lsn").alias("end_lsn"),
        )
    )


ORACLE_LINEAGE = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
ded AS (
  SELECT *, row_number() OVER (
    PARTITION BY batch_seq, conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged WHERE reject_reason IS NULL
)
SELECT 'b' || CAST(batch_seq AS VARCHAR) AS batch_id,
       count(*) AS applied, min(lsn) AS start_lsn, max(lsn) AS end_lsn
FROM ded WHERE rn = 1 GROUP BY batch_seq
"""


def cdc_quarantine_reprocess_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter reprocessing under the hard oracle: full replay with
    a quarantine sink, then a deterministic PARTIAL fix (even-lsn bad
    roles corrected to 'user', null/blank texts recovered) flows back
    through the normal validate → dedup → LSN-gated merge
    (``reprocess_quarantine``). Output = final table state UNION the
    rewritten quarantine, tagged by ``src`` — proving both that fixed
    rows rejoined the stream (winning only when their lsn beats the
    standing row, inserting when a delete had removed the key) and
    that the quarantine was rewritten to exactly the still-invalid
    rows. ≙ the reference error channel (FnOrchestrator.kt:95-111)
    made replayable."""
    from dexspark.cdc.apply import reprocess_quarantine

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    qschema = _parse_datatype_string(
        "lsn long, op string, batch_seq long, " + PAYLOAD
        + ", reject_reason string, batch_id string"
    )
    quarantine = LakeTable.create(
        spark, os.path.join(d, "quarantine"), qschema, "conv_id", num_buckets=4,
    )
    for b in batch_range(log):
        apply_changes(
            table, log.filter(F.col("batch_seq") == b),
            batch_id=f"b{b}", quarantine=quarantine,
        )

    def fix(df: DataFrame) -> DataFrame:
        role_ok = F.col("role").isin("user", "assistant", "system", "tool")
        return df.withColumn(
            "role",
            F.when(~role_ok & (F.pmod(F.col("lsn"), F.lit(2)) == 0), F.lit("user"))
            .otherwise(F.col("role")),
        ).withColumn(
            "text",
            F.when(
                F.col("text").isNull() | (F.trim(F.col("text")) == ""),
                F.concat(F.lit("recovered r"), F.col("lsn").cast("string")),
            ).otherwise(F.col("text")),
        )

    reprocess_quarantine(table, quarantine, fix, batch_id="bq-retry")
    state = table.read().select(
        F.lit("state").alias("src"), "conv_id", "turn_idx", "role",
        "text", "tool", "ts",
        F.lit(None).cast("string").alias("reject_reason"),
    )
    outstanding = quarantine.read().select(
        F.lit("quarantine").alias("src"), "conv_id", "turn_idx", "role",
        "text", "tool", "ts", "reject_reason",
    )
    return state.unionByName(outstanding)


# Mirrors the engine exactly: state0 = post-replay standing row per key
# INCLUDING delete winners (the lake keeps tombstones, so a late old
# update loses against the delete's LSN and cannot resurrect the key);
# fixwin = max-lsn newly-valid fixed row per key; the strict-LSN merge
# gate is the argmax over state0 ∪ fixwin because lsns are unique, and
# a key whose winner is a delete stays absent from the final state.
ORACLE_QUARANTINE_REPROCESS = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
fixed AS (
  SELECT lsn, op,
    CASE WHEN role NOT IN ('user','assistant','system','tool') AND lsn % 2 = 0
         THEN 'user' ELSE role END AS role,
    CASE WHEN text IS NULL OR trim(text) = ''
         THEN 'recovered r' || CAST(lsn AS VARCHAR) ELSE text END AS text,
    conv_id, turn_idx, tool, ts
  FROM flagged WHERE reject_reason IS NOT NULL
),
reflagged AS (SELECT *, {REASON_SQL} AS reject_reason FROM fixed),
state0 AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, lsn, op FROM (
    SELECT conv_id, turn_idx, role, text, tool, ts, lsn, op,
           row_number() OVER (
             PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
    FROM flagged WHERE reject_reason IS NULL) t
  WHERE rn = 1
),
fixwin AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, lsn, op FROM (
    SELECT conv_id, turn_idx, role, text, tool, ts, lsn, op,
           row_number() OVER (
             PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
    FROM reflagged WHERE reject_reason IS NULL) t
  WHERE rn = 1
),
merged AS (
  SELECT conv_id, turn_idx, role, text, tool, ts FROM (
    SELECT u.*, row_number() OVER (
             PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
    FROM (SELECT * FROM state0 UNION ALL SELECT * FROM fixwin) u) t
  WHERE rn = 1 AND op <> 'D'
)
SELECT 'state' AS src, conv_id, turn_idx, role, text, tool, ts,
       CAST(NULL AS VARCHAR) AS reject_reason
FROM merged
UNION ALL
SELECT 'quarantine' AS src, conv_id, turn_idx, role, text, tool, ts,
       reject_reason
FROM reflagged WHERE reject_reason IS NOT NULL
"""


def cdc_config_hot_reload_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live validation-config reload under the hard oracle
    (≙ FnCacheUpdater.kt:22-46: a config-store change is picked up by
    the running system without restart). The stream's ``cfg_provider``
    re-resolves the config FROM A CONFIG FILE at every micro-batch; the
    file is updated (role enum gains 'alien') after the first
    availableNow window, so change events in batches < thr are
    validated under the strict enum and batches >= thr under the
    relaxed one. Final state therefore contains 'alien'-role turns
    exactly where a post-change lsn won the key — the oracle recomputes
    the phase-split validation relationally."""
    import json

    from dexspark.cdc.validate import ValidationConfig
    from dexspark.sources.changelog import log_schema as mk_log_schema
    from dexspark.streaming.replay import CdcStreamReplay

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    log_dir = os.path.join(d, "log")
    cp = os.path.join(d, "cp")
    cfg_path = os.path.join(d, "validation_cfg.json")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    thr = (batch_range(log).stop + 1) // 2
    seg = log.repartition(4, F.col("batch_seq"))
    (
        seg.filter(F.col("batch_seq") < thr)
        .write.partitionBy("batch_seq").parquet(log_dir)
    )
    with open(cfg_path, "w") as f:
        json.dump({"roles": list(ValidationConfig().roles)}, f)

    def provider() -> ValidationConfig:
        # the live config cache: re-read per micro-batch
        with open(cfg_path) as f:
            return ValidationConfig(roles=tuple(json.load(f)["roles"]))

    def replayer() -> CdcStreamReplay:
        return CdcStreamReplay(
            spark, table, log_dir + "/*", cp, mk_log_schema(),
            cfg_provider=provider, max_files_per_trigger=2,
            batch_id_prefix="hr",
        )

    replayer().run_available()  # strict phase
    # ops updates the config store; NO new replay configuration — the
    # same provider observes the change at the next micro-batch
    with open(cfg_path, "w") as f:
        json.dump({"roles": [*ValidationConfig().roles, "alien"]}, f)
    (
        seg.filter(F.col("batch_seq") >= thr)
        .write.mode("append").partitionBy("batch_seq").parquet(log_dir)
    )
    replayer().run_available()  # relaxed phase (checkpoint resume)
    return table.read()


# Phase split mirrors the engine: thr = (max(batch_seq)+2) // 2 with
# batch_seq = event_id // BATCH; 'alien' roles are valid only from
# batch thr on (the relaxed enum), everything else is the standard
# reason chain.
ORACLE_HOT_RELOAD = f"""
WITH {LOG_CTE},
thr AS (SELECT (MAX(event_id) // {BATCH} + 2) // 2 AS t FROM events),
flagged AS (
  SELECT log.*,
    CASE WHEN op = 'D' THEN NULL
         WHEN role NOT IN ('user', 'assistant', 'system', 'tool')
              AND NOT (role = 'alien'
                       AND batch_seq >= (SELECT t FROM thr))
           THEN 'bad_role'
         WHEN role = 'tool' AND (tool IS NULL OR trim(tool) = '')
           THEN 'missing_tool'
         WHEN text IS NULL OR trim(text) = '' THEN 'malformed_text'
         END AS reject_reason
  FROM log
),
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged WHERE reject_reason IS NULL
)
SELECT conv_id, turn_idx, role, text, tool, ts
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def cdc_schema_evolution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay where batches >= mid carry a new ``model`` column and a
    widened ``turn_idx`` (int→long); the engine issues lake DDL
    mid-replay and the final state exposes the evolved schema (early
    rows read back with NULL model / widened ints)."""
    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    batches = batch_range(log)
    thr = (max(batches) + 1) // 2
    for b in batches:
        bdf = log.filter(F.col("batch_seq") == b)
        if b >= thr:
            bdf = bdf.withColumn(
                "model", F.concat(F.lit("m"), F.pmod(F.col("lsn"), 3).cast("string"))
            ).withColumn("turn_idx", F.col("turn_idx").cast("long"))
        apply_changes(table, bdf, batch_id=f"b{b}")
    return table.read()


ORACLE_EVOLUTION = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
thr AS (SELECT (max(batch_seq) + 1) // 2 AS t FROM log),
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged WHERE reject_reason IS NULL
)
SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, text, tool, ts,
       CASE WHEN batch_seq >= thr.t
            THEN 'm' || CAST(lsn % 3 AS VARCHAR) END AS model
FROM latest, thr WHERE rn = 1 AND op <> 'D'
"""


def cdc_scd2_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-history (SCD2) replay: every accepted event becomes a
    version row with an LSN validity interval. Batches are applied
    OUT OF ORDER (odd batches descending, then even ascending) to
    prove the incremental rebuild is commutative — late batches whose
    LSNs fall between stored versions must split intervals exactly as
    an in-order replay would. Oracle: one window pass over the whole
    accepted log (lead(lsn)/lead(op) per key)."""
    from dexspark.cdc.scd2 import apply_changes_scd2, scd2_schema, scd2_view

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    history = LakeTable.create(
        spark, os.path.join(d, "transcripts_hist"),
        scd2_schema(_parse_datatype_string(PAYLOAD)), "conv_id",
        num_buckets=16,
    )
    batches = list(batch_range(log))
    scrambled = [b for b in reversed(batches) if b % 2 == 1] + [
        b for b in batches if b % 2 == 0
    ]
    for b in scrambled:
        apply_changes_scd2(
            history,
            log.filter(F.col("batch_seq") == b).drop("batch_seq"),
            batch_id=f"b{b}",
        )
    return scd2_view(history.read())


def cdc_scd2_temporal_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-SCD2-dimension temporal join under the hard oracle:
    every 7th log event becomes a probe fact, enriched with the
    transcript version valid AT its LSN (interval semantics
    ``valid_from <= lsn < valid_to``, open = +inf). Implemented as the
    as-of union+window pass (one shuffle, no interval-join row
    multiplication) + the coverage gate; the oracle is the literal
    interval join in SQL. Inner semantics: probes whose key had been
    deleted (or not yet inserted) at their LSN drop — which the probe
    set deliberately contains."""
    from dexspark.cdc.scd2 import apply_changes_scd2, scd2_schema, scd2_temporal_join

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    history = LakeTable.create(
        spark, os.path.join(d, "transcripts_hist"),
        scd2_schema(_parse_datatype_string(PAYLOAD)), "conv_id",
        num_buckets=16,
    )
    for b in batch_range(log):
        apply_changes_scd2(
            history,
            log.filter(F.col("batch_seq") == b).drop("batch_seq"),
            batch_id=f"b{b}",
        )
    facts = log.filter(F.pmod(F.col("lsn"), 7) == 3).select(
        "lsn", "conv_id", "turn_idx"
    )
    return scd2_temporal_join(
        facts,
        history.read(),
        key_cols=["conv_id", "turn_idx"],
        value_cols=["role", "text", "tool", "ts"],
    )


ORACLE_SCD2_TEMPORAL = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
w AS (
  SELECT *,
         lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS next_lsn
  FROM flagged WHERE reject_reason IS NULL
),
hist AS (
  SELECT conv_id, turn_idx, role, text, tool, ts,
         lsn AS vf, next_lsn AS vt
  FROM w WHERE op <> 'D'
),
facts AS (SELECT lsn, conv_id, turn_idx FROM log WHERE lsn % 7 = 3)
SELECT f.lsn, f.conv_id, f.turn_idx,
       CAST(h.vf AS BIGINT) AS valid_from_lsn_dim,
       CAST(h.vt AS BIGINT) AS valid_to_lsn_dim,
       h.role AS role_dim, h.text AS text_dim, h.tool AS tool_dim,
       h.ts AS ts_dim
FROM facts f
JOIN hist h USING (conv_id, turn_idx)
WHERE h.vf <= f.lsn AND (h.vt IS NULL OR f.lsn < h.vt)
"""


ORACLE_SCD2 = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
w AS (
  SELECT *,
         lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS next_lsn,
         lead(op)  OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS next_op
  FROM flagged WHERE reject_reason IS NULL
)
SELECT conv_id, turn_idx, role, text, tool, ts,
       CAST(lsn AS BIGINT) AS valid_from_lsn,
       CAST(next_lsn AS BIGINT) AS valid_to_lsn,
       COALESCE(next_op = 'D', FALSE) AS closed_by_delete,
       next_lsn IS NULL AS is_current
FROM w WHERE op <> 'D'
"""


def cdc_stream_scd2_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming × SCD2 composition: the same file-tail / checkpoint /
    mid-stream-restart harness as ``cdc_stream_replay_final_state``,
    but each micro-batch lands in the FULL-HISTORY table via
    ``apply_changes_scd2``. Restart must neither lose nor double-apply
    version rows; the final interval chains must equal the one-pass
    batch oracle."""
    from dexspark.cdc.scd2 import scd2_schema, scd2_view
    from dexspark.sources.changelog import log_schema as mk_log_schema
    from dexspark.streaming.replay import CdcStreamReplay

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    log_dir = os.path.join(d, "log")
    cp = os.path.join(d, "cp")
    history = LakeTable.create(
        spark, os.path.join(d, "transcripts_hist"),
        scd2_schema(_parse_datatype_string(PAYLOAD)), "conv_id",
        num_buckets=16,
    )
    thr = (batch_range(log).stop + 1) // 2
    seg = log.repartition(4, F.col("batch_seq"))
    (
        seg.filter(F.col("batch_seq") < thr)
        .write.partitionBy("batch_seq").parquet(log_dir)
    )

    def replayer() -> CdcStreamReplay:
        return CdcStreamReplay(
            spark, history, log_dir + "/*", cp, mk_log_schema(),
            max_files_per_trigger=2, batch_id_prefix="s2",
            mode="scd2",
        )

    replayer().run_available()
    (
        seg.filter(F.col("batch_seq") >= thr)
        .write.mode("append").partitionBy("batch_seq").parquet(log_dir)
    )
    replayer().run_available()
    return scd2_view(history.read())


def cdc_scd2_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time query over the SCD2 history: the table state as
    of the log's median LSN, answered by an interval filter on the
    history (no snapshot restore, no time travel) — the query SCD2
    exists to make cheap. Must equal an SCD1 replay truncated at that
    LSN."""
    from dexspark.cdc.scd2 import apply_changes_scd2, scd2_schema

    log = derive_log(spark, sf_dir)
    pivot = int(log.agg(F.max("lsn")).first()[0]) // 2
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    history = LakeTable.create(
        spark, os.path.join(d, "transcripts_hist"),
        scd2_schema(_parse_datatype_string(PAYLOAD)), "conv_id",
        num_buckets=16,
    )
    for b in batch_range(log):
        apply_changes_scd2(
            history,
            log.filter(F.col("batch_seq") == b).drop("batch_seq"),
            batch_id=f"b{b}",
        )
    h = history.read()
    return h.filter(
        (F.col("valid_from_lsn") <= F.lit(pivot))
        & (
            F.col("valid_to_lsn").isNull()
            | (F.col("valid_to_lsn") > F.lit(pivot))
        )
    ).select("conv_id", "turn_idx", "role", "text", "tool", "ts")


ORACLE_SCD2_ASOF = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
piv AS (SELECT max(lsn) // 2 AS p FROM log),
latest AS (
  SELECT f.*, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM flagged f, piv WHERE reject_reason IS NULL AND lsn <= piv.p
)
SELECT conv_id, turn_idx, role, text, tool, ts
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def cdc_scd2_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution × SCD2: batches past the midpoint carry a new
    ``model`` column and a widened ``turn_idx`` (int→long); the history
    table evolves mid-replay, earlier version rows read back with NULL
    model, and the interval chains stay exact across the boundary."""
    from dexspark.cdc.scd2 import apply_changes_scd2, scd2_schema, scd2_view

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    history = LakeTable.create(
        spark, os.path.join(d, "transcripts_hist"),
        scd2_schema(_parse_datatype_string(PAYLOAD)), "conv_id",
        num_buckets=16,
    )
    batches = batch_range(log)
    thr = (max(batches) + 1) // 2
    for b in batches:
        bdf = log.filter(F.col("batch_seq") == b).drop("batch_seq")
        if b >= thr:
            bdf = bdf.withColumn(
                "model", F.concat(F.lit("m"), F.pmod(F.col("lsn"), 3).cast("string"))
            ).withColumn("turn_idx", F.col("turn_idx").cast("long"))
        apply_changes_scd2(history, bdf, batch_id=f"b{b}")
    return scd2_view(history.read())


ORACLE_SCD2_EVOLUTION = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
thr AS (SELECT (max(batch_seq) + 1) // 2 AS t FROM log),
ev AS (
  SELECT f.*, CASE WHEN f.batch_seq >= thr.t
                   THEN 'm' || CAST(f.lsn % 3 AS VARCHAR) END AS model
  FROM flagged f, thr WHERE f.reject_reason IS NULL
),
w AS (
  SELECT *,
         lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS next_lsn,
         lead(op)  OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS next_op
  FROM ev
)
SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, text, tool, ts, model,
       CAST(lsn AS BIGINT) AS valid_from_lsn,
       CAST(next_lsn AS BIGINT) AS valid_to_lsn,
       COALESCE(next_op = 'D', FALSE) AS closed_by_delete,
       next_lsn IS NULL AS is_current
FROM w WHERE op <> 'D'
"""


def cdc_scd2_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History retention × SCD2: replay the full history, then age out
    every CLOSED version (and consumed-delete marker) whose interval
    ended at or below the midpoint-LSN horizon via the lake's surgical
    ``delete_where`` — stats-pruned, only files that may match are
    rewritten. Open versions carry a NULL ``valid_to_lsn`` and the
    predicate is null-rejecting, so current rows always survive; the
    audit trail older than the horizon is gone, the live state is
    untouched. The read back goes through the SAME table (post-delete
    snapshot), so the oracle checks the delete's row-level surgery,
    not just its bookkeeping."""
    from dexspark.cdc.scd2 import apply_changes_scd2, scd2_schema, scd2_view

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    history = LakeTable.create(
        spark, os.path.join(d, "transcripts_hist"),
        scd2_schema(_parse_datatype_string(PAYLOAD)), "conv_id",
        num_buckets=16,
    )
    for b in batch_range(log):
        apply_changes_scd2(
            history,
            log.filter(F.col("batch_seq") == b).drop("batch_seq"),
            batch_id=f"b{b}",
        )
    cutoff = int(log.agg(F.max("lsn")).first()[0]) // 2
    history.delete_where(
        [("valid_to_lsn", "<=", cutoff)],
        summary={"batch_id": "retention_sweep"},
    )
    return scd2_view(history.read())


ORACLE_SCD2_RETENTION = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
w AS (
  SELECT *,
         lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS next_lsn,
         lead(op)  OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS next_op
  FROM flagged WHERE reject_reason IS NULL
),
cut AS (SELECT max(lsn) // 2 AS c FROM log)
SELECT conv_id, turn_idx, role, text, tool, ts,
       CAST(lsn AS BIGINT) AS valid_from_lsn,
       CAST(next_lsn AS BIGINT) AS valid_to_lsn,
       COALESCE(next_op = 'D', FALSE) AS closed_by_delete,
       next_lsn IS NULL AS is_current
FROM w, cut
WHERE op <> 'D' AND (next_lsn IS NULL OR next_lsn > cut.c)
"""


def cdc_export_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outbound CDC under the hard oracle (lake/export.py): replay
    half the log into a table, EXPORT its change feed to a parquet
    segment, replay the rest, export again as a JSON segment (mixed
    formats + the ledger's recorded Spark schema restoring exact types
    across the JSON hop), then replay the exported segments into a
    consumer table with a different bucket count — table → files →
    table. Matching the replay oracle proves the exported segments are
    a complete exactly-once change stream an EXTERNAL system could
    consume. Producer and consumer re-runs must both no-op off their
    ledgers."""
    from dexspark.lake.export import export_changes, read_ledger, replay_export

    log = derive_log(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="dexspark_q_")
    src = LakeTable.create(
        spark, os.path.join(d, "upstream"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    out_dir = os.path.join(d, "feed")
    # Split the log at the LSN median (not batch_seq: a small SF can
    # fit the whole log in ONE batch id, which would leave the second
    # export with nothing to ship). Two half-log applies are valid
    # batches in their own right, and the final state is batching-
    # independent, so the replay oracle is unchanged.
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    mid_lsn = (int(lo) + int(hi)) // 2
    apply_changes(src, log.filter(F.col("lsn") <= mid_lsn), batch_id="e_lo")
    export_changes(src, out_dir, fmt="parquet",
                   key_cols=["conv_id", "turn_idx"])
    apply_changes(src, log.filter(F.col("lsn") > mid_lsn), batch_id="e_hi")
    export_changes(src, out_dir, fmt="json", key_cols=["conv_id", "turn_idx"])
    # producer exactly-once: nothing new at head -> no segment
    assert export_changes(src, out_dir) is None
    segs = read_ledger(out_dir)
    assert len(segs) == 2 and all(s["mode"] == "incremental" for s in segs)

    consumer = LakeTable.create(
        spark, os.path.join(d, "consumer"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=8,
    )
    assert len(replay_export(spark, out_dir, consumer)) == 2
    # consumer exactly-once: re-replay finds both batch ids committed
    assert replay_export(spark, out_dir, consumer) == []
    return consumer.read()


def cdc_bootstrap_then_tail_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap-then-tail under the hard oracle (Debezium/DMS initial
    snapshot + stream): a "vendor snapshot" of the valid pre-watermark
    state (plus the deleted-key tombstone list) seeds a fresh table as
    one bootstrap batch at watermark LSN W = max_lsn // 2, then the
    tail replays every batch from the one CONTAINING W — i.e. the
    first tail batch overlaps the watermark and redelivers pre-W
    events, which must all lose the LSN gate (the seeded tombstones
    block resurrection of pre-W deletes). Final state must equal a
    full from-scratch replay (ORACLE_REPLAY)."""
    from dexspark.cdc.bootstrap import bootstrap_table
    from dexspark.cdc.dedup import dedupe_latest
    from dexspark.cdc.validate import REASON_COL, flag_events

    log = derive_log(spark, sf_dir)
    w = int(log.agg(F.max("lsn")).first()[0]) // 2
    keys = ["conv_id", "turn_idx"]
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    pre = flag_events(log.filter(F.col("lsn") <= w))
    latest = dedupe_latest(pre.filter(F.col(REASON_COL).isNull()), keys)
    snapshot = latest.filter(F.col("op") != "D").select(*payload)
    deletes = latest.filter(F.col("op") == "D").select(*keys, "lsn")

    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    bootstrap_table(table, snapshot, watermark_lsn=w, deletes=deletes)
    w_batch = w // BATCH
    for b in batch_range(log):
        if b >= w_batch:
            apply_changes(
                table, log.filter(F.col("batch_seq") == b), batch_id=f"b{b}"
            )
    return table.read()


def cdc_snapshot_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-derived CDC under the hard oracle (DLT's APPLY CHANGES
    FROM SNAPSHOT — cdc/snapshot.py; ≙ the reference's file-drop wire
    format, RouteIngestedFile.kt:44-66: upstream delivers COMPLETE
    artifacts, deriving the delta is the consumer's job): the source's
    valid LWW state is cut at successive batch-aligned watermarks and
    each cut is ingested as a FULL snapshot — the engine diffs it
    against the table's current state into I/U/D events (keys that
    vanished between cuts become derived deletes) and replays them
    through the normal validate → dedup → merge pipeline, each
    snapshot one exactly-once batch at its watermark LSN. The
    remaining log then tails in as ordinary batches (lsn > last
    watermark). Final state must equal a full from-scratch replay
    (ORACLE_REPLAY) — snapshot bootstrap, multi-snapshot diffing, and
    the snapshot→tail handoff all under one value hash."""
    from dexspark.cdc.dedup import dedupe_latest
    from dexspark.cdc.snapshot import apply_snapshot
    from dexspark.cdc.validate import REASON_COL, flag_events

    log = derive_log(spark, sf_dir)
    batches = batch_range(log)
    n = len(batches)
    keys = ["conv_id", "turn_idx"]
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    # batch-aligned cuts so the tail never overlaps a watermark
    cuts = sorted({max(1, n // 4), max(1, n // 2), max(1, 3 * n // 4)})
    for cut_b in cuts:
        w = cut_b * BATCH - 1
        pre = flag_events(log.filter(F.col("lsn") <= w))
        latest = dedupe_latest(pre.filter(F.col(REASON_COL).isNull()), keys)
        snapshot = latest.filter(F.col("op") != "D").select(*payload)
        apply_snapshot(table, snapshot, snapshot_lsn=w)
    for b in batches:
        if b >= cuts[-1]:
            apply_changes(
                table, log.filter(F.col("batch_seq") == b), batch_id=f"b{b}"
            )
    return table.read()


def cdc_snapshot_stream_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-feed-restart variant of cdc_snapshot_ingest (VERDICT r4 #5):
    the snapshot drop zone consumed by the STREAMING chassis
    (cdc/snapshot.py::SnapshotStreamIngest) — a file source tails the
    feed's _ready/ markers and foreachBatch applies each delivery
    exactly-once, same checkpoint/restart story as the binlog tail.
    Driven through every restart shape: run 1 ingests deliveries 1-2
    and stops; delivery 3 is then applied OUT-OF-BAND (the crash window
    between a delivery's merge commit and the checkpoint commit: table
    ledger has it, checkpoint does not); a FRESH consumer on the same
    checkpoint resumes, re-discovers delivery 3's marker, and must skip
    it via the ledger ('already_committed'); delivery 4 then applies
    normally and the remaining log tails in as ordinary batches. Final
    state must equal a full from-scratch replay (ORACLE_REPLAY)."""
    from dexspark.cdc.dedup import dedupe_latest
    from dexspark.cdc.snapshot import (
        SnapshotStreamIngest,
        apply_snapshot,
        publish_delivery,
    )
    from dexspark.cdc.validate import REASON_COL, flag_events

    log = derive_log(spark, sf_dir)
    batches = batch_range(log)
    n = len(batches)
    keys = ["conv_id", "turn_idx"]
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    d = tempfile.mkdtemp(prefix="dexspark_q_")
    table = LakeTable.create(
        spark, os.path.join(d, "transcripts"),
        _parse_datatype_string(PAYLOAD), "conv_id", num_buckets=16,
    )
    feed = os.path.join(d, "feed")
    cuts = sorted({max(1, n // 5), max(1, 2 * n // 5),
                   max(1, 3 * n // 5), max(1, 4 * n // 5)})
    watermarks = []
    for cut_b in cuts:
        w = cut_b * BATCH - 1
        if w in watermarks:
            continue
        watermarks.append(w)
        pre = flag_events(log.filter(F.col("lsn") <= w))
        latest = dedupe_latest(pre.filter(F.col(REASON_COL).isNull()), keys)
        latest.filter(F.col("op") != "D").select(*payload).write.parquet(
            os.path.join(feed, f"snapshot-{w}")
        )

    cp = os.path.join(d, "cp")
    # run 1: only the first two deliveries are published
    for w in watermarks[:2]:
        publish_delivery(feed, w)
    r1 = SnapshotStreamIngest(spark, table, feed, cp).run_available()
    assert [r["snapshot_lsn"] for r in r1] == watermarks[:2], r1

    # crash window: delivery 3 committed to the TABLE but its marker
    # is unseen by the checkpoint
    if len(watermarks) > 2:
        w3 = watermarks[2]
        snap3 = spark.read.parquet(os.path.join(feed, f"snapshot-{w3}"))
        apply_snapshot(table, snap3, snapshot_lsn=w3)
        publish_delivery(feed, w3)
        for w in watermarks[3:]:
            publish_delivery(feed, w)
        # fresh consumer, same checkpoint: redelivered marker skips
        r2 = SnapshotStreamIngest(spark, table, feed, cp).run_available()
        assert r2 and r2[0]["skipped"] and (
            r2[0]["reason"] in ("already_committed", "superseded_watermark")
        ), r2
        assert [x["snapshot_lsn"] for x in r2 if not x.get("skipped")] == (
            watermarks[3:]
        ), r2

    # the remaining log tails in as ordinary batches
    last_w = watermarks[-1]
    for b in batches:
        if b * BATCH > last_w:
            apply_changes(
                table, log.filter(F.col("batch_seq") == b), batch_id=f"b{b}"
            )
    return table.read()


def cdc_scd2_from_snapshots_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history from a snapshot feed (DLT's APPLY CHANGES FROM
    SNAPSHOT ... STORED AS SCD TYPE 2 — cdc/snapshot.py::
    apply_snapshot_scd2): the source's valid LWW state cut at the same
    batch-aligned watermarks as cdc_snapshot_ingest, each delivery
    diffed against the history's OPEN versions and applied as one
    exactly-once SCD2 batch. The history must record every image the
    feed delivered with snapshot-cadence validity intervals: a changed
    image closes at the replacing delivery's watermark, a vanished key
    closes with closed_by_delete, a reappearing key opens fresh, an
    unchanged image stays open across deliveries. The oracle rebuilds
    the same interval algebra from a cuts × keys observation grid
    (LAG for change/appearance detection, LEAD for interval ends)."""
    from dexspark.cdc.dedup import dedupe_latest
    from dexspark.cdc.scd2 import scd2_schema
    from dexspark.cdc.snapshot import apply_snapshot_scd2
    from dexspark.cdc.validate import REASON_COL, flag_events

    log = derive_log(spark, sf_dir)
    n = len(batch_range(log))
    keys = ["conv_id", "turn_idx"]
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    d = tempfile.mkdtemp(prefix="dexspark_q_")
    history = LakeTable.create(
        spark, os.path.join(d, "transcripts_hist"),
        scd2_schema(_parse_datatype_string(PAYLOAD)), "conv_id",
        num_buckets=16,
    )
    cuts = sorted({max(1, n // 4), max(1, n // 2), max(1, 3 * n // 4)})
    for cut_b in cuts:
        w = cut_b * BATCH - 1
        pre = flag_events(log.filter(F.col("lsn") <= w))
        latest = dedupe_latest(pre.filter(F.col(REASON_COL).isNull()), keys)
        snapshot = latest.filter(F.col("op") != "D").select(*payload)
        apply_snapshot_scd2(history, snapshot, snapshot_lsn=w)
    return history.read()


ORACLE_SCD2_FROM_SNAPSHOTS = f"""
WITH {LOG_CTE}, {FLAGGED_CTE},
nb AS (SELECT MAX(lsn) // {BATCH} + 1 AS n FROM log),
cuts AS (
  SELECT DISTINCT GREATEST(1, x) * {BATCH} - 1 AS w
  FROM (SELECT unnest([n // 4, n // 2, (3 * n) // 4]) AS x FROM nb)
),
latest AS (
  SELECT c.w, f.*, row_number() OVER (
      PARTITION BY c.w, f.conv_id, f.turn_idx ORDER BY f.lsn DESC) AS rn
  FROM cuts c JOIN flagged f ON f.lsn <= c.w AND f.reject_reason IS NULL
),
states AS (
  SELECT w, conv_id, turn_idx, role, text, tool, ts
  FROM latest WHERE rn = 1 AND op <> 'D'
),
grid AS (
  SELECT k.conv_id, k.turn_idx, c.w
  FROM (SELECT DISTINCT conv_id, turn_idx FROM states) k CROSS JOIN cuts c
),
obs AS (
  SELECT g.conv_id, g.turn_idx, g.w, s.w IS NOT NULL AS present,
    struct_pack(role := s.role, text := s.text,
                tool := s.tool, ts := s.ts) AS img
  FROM grid g LEFT JOIN states s
    ON s.conv_id = g.conv_id AND s.turn_idx = g.turn_idx AND s.w = g.w
),
ev AS (
  SELECT *, COALESCE(LAG(present) OVER k, FALSE) AS p_prev,
         LAG(img) OVER k AS img_prev
  FROM obs WINDOW k AS (PARTITION BY conv_id, turn_idx ORDER BY w)
),
changes AS (
  SELECT conv_id, turn_idx, w, img,
    CASE WHEN present THEN 'open' ELSE 'del' END AS kind
  FROM ev
  WHERE (present AND (NOT p_prev OR img IS DISTINCT FROM img_prev))
     OR (NOT present AND p_prev)
),
vers AS (
  SELECT *, LEAD(w) OVER k2 AS next_w, LEAD(kind) OVER k2 AS next_kind
  FROM changes WINDOW k2 AS (PARTITION BY conv_id, turn_idx ORDER BY w)
)
SELECT conv_id, turn_idx,
  img.role AS role, img.text AS text, img.tool AS tool, img.ts AS ts,
  w AS valid_from_lsn, next_w AS valid_to_lsn,
  COALESCE(next_kind = 'del', FALSE) AS closed_by_delete,
  next_w IS NULL AS is_current
FROM vers WHERE kind = 'open'
"""


def cdc_log_gap_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log continuity audit under the hard oracle: the derived
    log is deterministically corrupted — every lsn % 97 == 0 segment
    DROPPED (gaps, including lsn 0 so the expected_min endpoint check
    fires), every surviving lsn % 131 == 0 event re-delivered with a
    DIFFERENT payload (conflicts), and every surviving lsn % 149 == 0
    event re-delivered verbatim (benign redelivery, which must NOT be
    flagged — the dedup stage absorbs it by design). The audit
    (dexspark/cdc/audit.py) must report exactly the injected gaps and
    conflicts and nothing else; span=1024 forces the per-span window +
    boundary-stitch path the 10^10-scale plan relies on."""
    from dexspark.cdc.audit import log_continuity_audit

    log = derive_log(spark, sf_dir)
    base = log.filter(F.pmod(F.col("lsn"), 97) != 0)
    conflict = base.filter(F.pmod(F.col("lsn"), 131) == 0).withColumn(
        "text", F.concat(F.lit("CONFLICT rev"), F.col("lsn").cast("string"))
    )
    redeliver = base.filter(F.pmod(F.col("lsn"), 149) == 0)
    corrupted = base.unionByName(conflict).unionByName(redeliver)
    return log_continuity_audit(
        corrupted,
        payload_cols=["op", "conv_id", "turn_idx", "role", "text", "tool"],
        span=1024,
        expected_min=0,
    )


ORACLE_LOG_GAP_AUDIT = f"""
WITH {LOG_CTE},
base AS (SELECT * FROM log WHERE lsn % 97 <> 0),
corrupted AS (
  SELECT * FROM base
  UNION ALL
  SELECT * REPLACE ('CONFLICT rev' || CAST(lsn AS VARCHAR) AS text)
  FROM base WHERE lsn % 131 = 0
  UNION ALL
  SELECT * FROM base WHERE lsn % 149 = 0
),
fp AS (
  SELECT lsn, md5(concat_ws(chr(31),
    coalesce(CAST(op AS VARCHAR),       chr(0) || 'null' || chr(0)),
    coalesce(CAST(conv_id AS VARCHAR),  chr(0) || 'null' || chr(0)),
    coalesce(CAST(turn_idx AS VARCHAR), chr(0) || 'null' || chr(0)),
    coalesce(CAST(role AS VARCHAR),     chr(0) || 'null' || chr(0)),
    coalesce(CAST(text AS VARCHAR),     chr(0) || 'null' || chr(0)),
    coalesce(CAST(tool AS VARCHAR),     chr(0) || 'null' || chr(0))
  )) AS f FROM corrupted
),
per_lsn AS (SELECT lsn, count(DISTINCT f) AS variants FROM fp GROUP BY 1),
conflicts AS (
  SELECT 'conflict' AS kind, lsn AS lsn_from, lsn AS lsn_to, variants AS n
  FROM per_lsn WHERE variants > 1
),
gaps AS (
  SELECT 'gap' AS kind, lsn + 1 AS lsn_from, nxt - 1 AS lsn_to,
         nxt - lsn - 1 AS n
  FROM (SELECT lsn, lead(lsn) OVER (ORDER BY lsn) AS nxt FROM per_lsn)
  WHERE nxt > lsn + 1
),
head AS (
  SELECT 'gap' AS kind, 0 AS lsn_from, min(lsn) - 1 AS lsn_to, min(lsn) AS n
  FROM per_lsn HAVING min(lsn) > 0
)
SELECT kind, CAST(lsn_from AS BIGINT) AS lsn_from,
       CAST(lsn_to AS BIGINT) AS lsn_to, CAST(n AS BIGINT) AS n
FROM (SELECT * FROM conflicts UNION ALL SELECT * FROM gaps
      UNION ALL SELECT * FROM head)
"""
