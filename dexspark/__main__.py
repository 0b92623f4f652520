"""CLI entry point — the spark-submit deployment surface.

Run via::

    spark-submit --py-files dexspark.zip path/to/dexspark/__main__.py replay \
        --log /data/changelog --table /lake/transcripts \
        --checkpoint /lake/_cp/transcripts
    # or locally:
    python -m dexspark replay --log ... --table ... --checkpoint ...

Subcommands:

- ``replay``  — tail the change log (AvailableNow trigger) and apply
  every pending segment through validate → dedup → MERGE; resumable
  from the checkpoint; creates the table on first run.
- ``replay-routed`` — tail one change log and demux it into N
  destination tables by a JSON route config (fallback route included),
  exactly-once per destination.
- ``compact`` — bin-pack small files / migrate stale-schema files
  (also folds merge-on-read delta files back into base).
- ``expire``  — expire old snapshots and vacuum unreferenced files.
- ``maintain`` — policy-driven compaction from manifest metadata; run
  it after ``replay --strategy mor`` to fold the delta files.
- ``mirror``  — subscribe a downstream table to an upstream table's
  change feed (per-snapshot diffs, exactly-once, resumable).
- ``delete``  — predicate DELETE (retention / right-to-be-forgotten):
  stats-pruned surgical rewrite of only the files that may match.
- ``view-refresh`` — maintain an incremental aggregate rollup view
  (COUNT + SUMs) of a table, O(changed rows) per run.
- ``sigindex-refresh`` — maintain the incremental near-dup signature
  index, O(changed docs) per run.
- ``vecindex-refresh`` — maintain the incremental IVF inverted-file
  vector index, O(changed vectors) per run.
- ``dedup-gate`` — screen an incoming parquet batch against the
  indexed corpus before it lands.
- ``status``  — print snapshot version, row count, committed batches.

≙ the reference's deployment unit (an Azure Functions app wired by
host.json); one job = one table, parallelism comes from the cluster
(``--master`` / spark-submit conf), not from code.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql.types import _parse_datatype_string

from dexspark.cdc.validate import ValidationConfig
from dexspark.lake.table import LakeTable
from dexspark.session import get_spark
from dexspark.sources.changelog import PAYLOAD_DDL, log_schema
from dexspark.streaming.replay import CdcStreamReplay


def _spark(args):
    return get_spark("dexspark", master=args.master)


def cmd_replay(args) -> int:
    spark = _spark(args)
    schema = _parse_datatype_string(args.payload_schema)
    if args.mode == "scd2":
        from dexspark.cdc.scd2 import scd2_schema

        schema = scd2_schema(schema)
    if LakeTable.exists(args.table):
        table = LakeTable(spark, args.table)
    else:
        table = LakeTable.create(
            spark,
            args.table,
            schema,
            bucket_key=args.bucket_key,
            num_buckets=args.buckets,
        )
    if args.branch:
        # WAP ingest: stage the replay on a branch; audit, then
        # `dexspark branch publish` (or drop) from the main ref
        try:
            table = table.branch_table(args.branch)
        except FileNotFoundError:
            table = table.create_branch(args.branch)
    quarantine = None
    if args.quarantine:
        qschema = _parse_datatype_string(
            f"lsn long, op string, batch_seq long, {args.payload_schema}, "
            "reject_reason string, batch_id string"
        )
        if LakeTable.exists(args.quarantine):
            quarantine = LakeTable(spark, args.quarantine)
        else:
            quarantine = LakeTable.create(
                spark, args.quarantine, qschema, args.bucket_key, args.buckets
            )
    replay = CdcStreamReplay(
        spark,
        table,
        args.log,
        args.checkpoint,
        log_schema(args.extra_columns),
        cfg=ValidationConfig(),
        quarantine=quarantine,
        salt_buckets=args.salt or None,
        max_files_per_trigger=args.max_files_per_trigger or None,
        log_format=args.log_format,
        strategy=args.strategy,
        mode=args.mode,
    )
    results = replay.run_available()
    for r in results:
        print(json.dumps(r, default=str))
    return 0


def cmd_replay_routed(args) -> int:
    """Routed fan-out replay: one log tailed once, demuxed by a JSON
    route config into N destination tables (≙ the reference's
    fileconfigs.json declaring routes in config, not code). Config::

        {"type_col": "stream_id",
         "default_route": "misc",
         "routes": [{"route": "alpha", "message_types": ["a", "b"]}],
         "tables": {"alpha": "/lake/alpha", "misc": "/lake/misc"},
         "quarantines": {"alpha": "/lake/q_alpha"}}   # optional

    Every route (and the fallback) needs a table path; tables are
    created on first run. The log schema must carry the type column —
    pass it via --extra-columns unless it is a base log field."""
    spark = _spark(args)
    from dexspark.cdc.router import RoutedCdcStreamReplay
    from dexspark.operators.routing import DEFAULT_ROUTE, routes_df

    with open(args.routes) as fh:
        rcfg = json.load(fh)
    schema = _parse_datatype_string(args.payload_schema)
    tables = {}
    for route, path in rcfg["tables"].items():
        if LakeTable.exists(path):
            tables[route] = LakeTable(spark, path)
        else:
            tables[route] = LakeTable.create(
                spark, path, schema, args.bucket_key, args.buckets
            )
    quarantines = None
    if rcfg.get("quarantines"):
        qschema = _parse_datatype_string(
            f"lsn long, op string, batch_seq long, {args.payload_schema}, "
            "reject_reason string, batch_id string"
        )
        quarantines = {}
        for route, path in rcfg["quarantines"].items():
            if LakeTable.exists(path):
                quarantines[route] = LakeTable(spark, path)
            else:
                quarantines[route] = LakeTable.create(
                    spark, path, qschema, args.bucket_key, args.buckets
                )
    replay = RoutedCdcStreamReplay(
        spark,
        tables,
        routes_df(spark, rcfg["routes"]),
        args.log,
        args.checkpoint,
        log_schema(args.extra_columns),
        type_col=rcfg.get("type_col", "stream_id"),
        default_route=rcfg.get("default_route", DEFAULT_ROUTE),
        cfg=ValidationConfig(),
        quarantines=quarantines,
        max_files_per_trigger=args.max_files_per_trigger or None,
        log_format=args.log_format,
        strategy=args.strategy,
        concurrency=args.concurrency,
    )
    results = replay.run_available()
    for r in results:
        print(json.dumps(r, default=str))
    return 0


def cmd_compact(args) -> int:
    spark = _spark(args)
    cluster = args.cluster_by.split(",") if args.cluster_by else None
    print(
        json.dumps(
            LakeTable(spark, args.table).compact(
                args.min_files,
                cluster_by=cluster,
                files_per_bucket=args.files_per_bucket,
                zorder=args.zorder,
            )
        )
    )
    return 0


def cmd_expire(args) -> int:
    spark = _spark(args)
    print(
        json.dumps(
            LakeTable(spark, args.table).expire_snapshots(
                args.keep_last, older_than_seconds=args.older_than
            )
        )
    )
    return 0


def cmd_rebucket(args) -> int:
    spark = _spark(args)
    print(json.dumps(LakeTable(spark, args.table).rebucket(args.buckets)))
    return 0


def cmd_evolve_layout(args) -> int:
    spark = _spark(args)
    t = LakeTable(spark, args.table)
    out = t.evolve_layout(args.buckets)
    out["layout_status"] = t.layout_status()
    print(json.dumps(out))
    return 0


def cmd_rollback(args) -> int:
    spark = _spark(args)
    print(json.dumps(LakeTable(spark, args.table).rollback(args.to_version)))
    return 0


def cmd_branch(args) -> int:
    spark = _spark(args)
    t = LakeTable(spark, args.table)
    if args.action == "create":
        t.create_branch(args.name)
        out: dict = {"operation": "create_branch", "branch": args.name}
    elif args.action == "publish":
        out = t.publish_branch(args.name)
    elif args.action == "drop":
        out = t.drop_branch(args.name)
    else:  # list
        out = {"operation": "list_branches", "branches": t.list_branches()}
    print(json.dumps(out))
    return 0


def cmd_tag(args) -> int:
    spark = _spark(args)
    t = LakeTable(spark, args.table)
    if args.action == "create":
        out = t.tag(args.name, version=args.at_version)
    elif args.action == "drop":
        out = t.drop_tag(args.name)
    else:  # list
        out = {"operation": "list_tags", "tags": t.list_tags()}
    print(json.dumps(out))
    return 0


def cmd_build_blooms(args) -> int:
    spark = _spark(args)
    print(
        json.dumps(
            LakeTable(spark, args.table).build_blooms(args.column)
        )
    )
    return 0


def cmd_maintain(args) -> int:
    spark = _spark(args)
    cluster = args.cluster_by.split(",") if args.cluster_by else None
    print(
        json.dumps(
            LakeTable(spark, args.table).maintain(
                compact_min_files=args.compact_min_files,
                compact_delta_depth=args.delta_depth,
                compact_dv_ratio=args.dv_ratio,
                expire_keep_last=args.expire_keep_last,
                vacuum_grace_seconds=args.vacuum_grace,
                cluster_by=cluster,
                zorder=args.zorder,
                files_per_bucket=args.files_per_bucket,
                bloom_uncovered_files=args.bloom_uncovered_files,
            ),
            default=str,
        )
    )
    return 0


def cmd_vacuum_orphans(args) -> int:
    spark = _spark(args)
    print(
        json.dumps(
            LakeTable(spark, args.table).vacuum_orphans(args.older_than)
        )
    )
    return 0


def cmd_mirror(args) -> int:
    spark = _spark(args)
    src = LakeTable(spark, args.source)
    if LakeTable.exists(args.table):
        dst = LakeTable(spark, args.table)
    else:
        m = src.manifest()
        dst = LakeTable.create(
            spark, args.table, src.schema(), m.bucket_key,
            args.buckets or m.num_buckets,
        )
    from dexspark.lake.changes import mirror_table

    keys = args.keys.split(",") if args.keys else None
    for r in mirror_table(src, dst, key_cols=keys):
        print(json.dumps(r, default=str))
    return 0


def cmd_catalog(args) -> int:
    """Multi-table pin-set management: ``create`` pins named tables at
    their current heads, ``commit`` atomically re-pins the given
    members (their current heads), ``show`` prints a pin set."""
    spark = _spark(args)
    from dexspark.lake.catalog import Catalog

    members = dict(kv.split("=", 1) for kv in args.tables) if args.tables else {}
    if args.action == "create":
        cat = Catalog.create(
            spark, args.dir,
            {n: LakeTable(spark, p) for n, p in members.items()},
        )
        print(json.dumps({"catalog_version": 0, "tables": cat.pins(0)}))
        return 0
    cat = Catalog(spark, args.dir)
    if args.action == "commit":
        names = args.members.split(",") if args.members else list(cat.pins())
        v = cat.commit_with_retry({n: None for n in names})
        print(json.dumps({"catalog_version": v, "tables": cat.pins(v)}))
        return 0
    v = args.version if args.version >= 0 else cat.current_version()
    print(json.dumps({"catalog_version": v, "tables": cat.pins(v)}))
    return 0


def cmd_export_changes(args) -> int:
    """Publish a table's change feed to a directory of file segments
    for external (non-dexspark) consumers — the outbound leg of the
    CDC hub. Resumes from the export ledger; a no-op prints nothing."""
    spark = _spark(args)
    from dexspark.lake.export import export_changes

    keys = args.keys.split(",") if args.keys else None
    entry = export_changes(
        LakeTable(spark, args.table), args.out, fmt=args.format, key_cols=keys
    )
    if entry is not None:
        print(json.dumps(entry, default=str))
    return 0


def cmd_view_refresh(args) -> int:
    """Maintain an aggregate rollup view of a table from the CLI (the
    scheduled job a dashboard owner deploys next to replay/compact):
    creates the view on first run, then brings it up to date with the
    source head in one incremental merge — or a full rebuild when the
    source's retained history no longer covers the last refresh."""
    spark = _spark(args)
    from dexspark.lake.matview import create_agg_view, refresh_agg_view

    src = LakeTable(spark, args.table)
    group = args.group_by.split(",")
    sums = json.loads(args.sums) if args.sums else {}
    mins = json.loads(args.mins) if args.mins else {}
    maxs = json.loads(args.maxs) if args.maxs else {}
    view = create_agg_view(
        spark, args.view, src, group, sums, num_buckets=args.buckets,
        min_exprs=mins, max_exprs=maxs,
    )
    info = refresh_agg_view(
        src, view, group, sums, min_exprs=mins, max_exprs=maxs
    )
    print(json.dumps(info if info is not None else {"skipped": "current"},
                     default=str))
    return 0


def cmd_sigindex_refresh(args) -> int:
    """Maintain the near-dup signature index from the CLI (the
    scheduled job a curation pipeline deploys next to replay/compact):
    creates the index on first run, then brings it up to date with the
    source head in one incremental merge — signatures recomputed for
    changed docs only, full rebuild across retention gaps."""
    spark = _spark(args)
    from dexspark.lake.sigindex import (
        create_signature_index,
        refresh_signature_index,
    )

    src = LakeTable(spark, args.table)
    if LakeTable.exists(args.index):
        idx = LakeTable(spark, args.index)
    else:
        idx = create_signature_index(
            spark, args.index, src, id_col=args.id_col
        )
    info = refresh_signature_index(
        src,
        idx,
        id_col=args.id_col,
        text_col=args.text_col,
        num_hashes=args.num_hashes,
        shingle_n=args.shingle_n,
    )
    print(json.dumps(info if info is not None else {"skipped": "current"},
                     default=str))
    return 0


def cmd_vecindex_refresh(args) -> int:
    """Maintain the IVF inverted-file vector index from the CLI:
    creates on first run, then one incremental merge per catch-up —
    cell assignments recomputed for changed vectors only, retractions
    emitted on cell moves."""
    spark = _spark(args)
    from dexspark.lake.vecindex import (
        create_vector_index,
        refresh_vector_index,
    )

    src = LakeTable(spark, args.table)
    if LakeTable.exists(args.index):
        idx = LakeTable(spark, args.index)
    else:
        idx = create_vector_index(
            spark, args.index, src, id_col=args.id_col, vec_col=args.vec_col
        )
    info = refresh_vector_index(
        src,
        idx,
        dim=args.dim,
        id_col=args.id_col,
        vec_col=args.vec_col,
        n_centroids=args.n_centroids,
    )
    print(json.dumps(info if info is not None else {"skipped": "current"},
                     default=str))
    return 0


def cmd_dedup_gate(args) -> int:
    """Screen an incoming parquet batch against the indexed corpus
    BEFORE it lands: prints a JSON summary (docs screened / flagged)
    and, with --out, writes the verified hit pairs for the pipeline to
    quarantine or drop."""
    spark = _spark(args)
    from dexspark.lake.sigindex import ingest_dedup_gate

    src = LakeTable(spark, args.table)
    idx = LakeTable(spark, args.index)
    incoming = spark.read.parquet(args.incoming).select(
        args.id_col, args.text_col
    )
    hits = ingest_dedup_gate(
        idx,
        src.read(),
        incoming,
        id_col=args.id_col,
        text_col=args.text_col,
        num_hashes=args.num_hashes,
        bands=args.bands,
        shingle_n=args.shingle_n,
        min_jaccard_x1000=args.min_jaccard_x1000,
    ).persist()
    flagged = hits.select("id_new").distinct().count()
    if args.out:
        hits.write.parquet(args.out, mode="errorifexists")
    print(
        json.dumps(
            {
                "screened": incoming.count(),
                "flagged_docs": flagged,
                "hit_pairs": hits.count(),
                **({"out": args.out} if args.out else {}),
            }
        )
    )
    hits.unpersist()
    return 0


def cmd_reprocess(args) -> int:
    """Dead-letter replay from the CLI: pull the quarantine table,
    apply a declarative fix spec (JSON: remap/set/coalesce — ≙ the
    reference's config-driven error functions, OrchestratorDtos.kt:
    22-25), and run the corrected rows through the normal validate →
    dedup → merge path under a fresh batch id. Rows that STILL fail
    validation stay quarantined; everything else rejoins the table
    with full exactly-once + lineage semantics."""
    spark = _spark(args)
    from dexspark.cdc.apply import fix_from_spec, reprocess_quarantine

    with open(args.fix_config) as fh:
        spec = json.load(fh)
    table = LakeTable(spark, args.table)
    quarantine = LakeTable(spark, args.quarantine)
    res = reprocess_quarantine(
        table,
        quarantine,
        fix_from_spec(spec),
        batch_id=args.batch_id,
    )
    print(json.dumps(res, default=str))
    return 0


def _parse_where(spec: str):
    """``col:op:value`` → (col, op, typed value). Value typing: int,
    then float, then ISO timestamp/date, else string (strings are
    valid residual predicates; they just never file-prune)."""
    import datetime as dt

    from dexspark.lake.stats import OPS

    parts = spec.split(":", 2)
    if len(parts) != 3 or parts[1] not in OPS:
        raise SystemExit(
            f"bad --where {spec!r}: expected col:op:value with op in {OPS}"
        )
    col, op, raw = parts
    for conv in (int, float, dt.datetime.fromisoformat, dt.date.fromisoformat):
        try:
            return (col, op, conv(raw))
        except ValueError:
            continue
    return (col, op, raw)


def cmd_delete(args) -> int:
    spark = _spark(args)
    filters = [_parse_where(w) for w in args.where]
    res = LakeTable(spark, args.table).delete_where(
        filters, strategy=args.strategy
    )
    print(json.dumps(res, default=str))
    return 0


def cmd_bootstrap(args) -> int:
    """Initial-load entry: seed a fresh table from a snapshot at a
    watermark LSN, then `dexspark replay` tails the log (safely from
    the segment containing the watermark when --deletes was given —
    tombstones block pre-watermark resurrection; strictly after it
    otherwise)."""
    from dexspark.cdc.bootstrap import bootstrap_table

    spark = _spark(args)
    schema = _parse_datatype_string(args.payload_schema)
    if LakeTable.exists(args.table):
        table = LakeTable(spark, args.table)
    else:
        table = LakeTable.create(
            spark, args.table, schema,
            bucket_key=args.bucket_key, num_buckets=args.buckets,
        )
    reader = spark.read.schema(schema)
    snapshot = (
        reader.parquet(args.snapshot)
        if args.format == "parquet"
        else reader.json(args.snapshot)
    )
    deletes = None
    if args.deletes:
        dschema = _parse_datatype_string(args.deletes_schema)
        dr = spark.read.schema(dschema)
        deletes = (
            dr.parquet(args.deletes)
            if args.format == "parquet"
            else dr.json(args.deletes)
        )
    info = bootstrap_table(
        table, snapshot,
        watermark_lsn=args.watermark,
        deletes=deletes,
        batch_id=args.batch_id,
    )
    print(json.dumps(info, default=str))
    return 0


def cmd_ingest_snapshot(args) -> int:
    """Snapshot-feed entry (cdc/snapshot.py): ingest one FULL snapshot
    delivered by a source that cannot emit a change log — diffed
    against the table's current state into I/U/D events and applied as
    one exactly-once batch at the snapshot's watermark LSN. Run once
    per delivered snapshot, in feed order (out-of-order deliveries are
    refused), or point --feed at a snapshot-<lsn>/ drop zone to catch
    up on every pending delivery. Creates the table on first use."""
    from dexspark.cdc.scd2 import scd2_schema
    from dexspark.cdc.snapshot import (
        apply_snapshot,
        apply_snapshot_scd2,
        ingest_snapshot_feed,
    )

    if (args.feed is None) == (args.snapshot is None):
        raise SystemExit(
            "pass exactly one of --snapshot/--watermark or --feed"
        )
    if args.snapshot is not None and args.watermark is None:
        raise SystemExit("--snapshot needs --watermark")
    spark = _spark(args)
    schema = _parse_datatype_string(args.payload_schema)
    if LakeTable.exists(args.table):
        table = LakeTable(spark, args.table)
    else:
        table = LakeTable.create(
            spark, args.table,
            scd2_schema(schema) if args.scd2 else schema,
            bucket_key=args.bucket_key, num_buckets=args.buckets,
        )
    quarantine = (
        LakeTable(spark, args.quarantine) if args.quarantine else None
    )
    if args.feed is not None:
        if getattr(args, "checkpoint", None):
            from dexspark.cdc.snapshot import SnapshotStreamIngest

            info = SnapshotStreamIngest(
                spark, table, args.feed, args.checkpoint,
                fmt=args.format, quarantine=quarantine,
                strategy=args.strategy, scd2=args.scd2,
            ).run_available()
        else:
            info = ingest_snapshot_feed(
                table, args.feed, fmt=args.format,
                quarantine=quarantine, strategy=args.strategy,
                scd2=args.scd2,
            )
    else:
        # --payload-schema NULL-fills columns absent from the delivery
        # (both formats), which would defeat snapshot_changes's
        # partial-snapshot refusal and wipe those columns table-wide —
        # check the delivery's wire schema against the TABLE payload
        # first (parquet: footer-only; json: inference pass)
        from dexspark.cdc.scd2 import SCD2_COLS
        from dexspark.cdc.snapshot import (
            delivered_columns,
            refuse_partial_delivery,
        )

        required = [
            f.name
            for f in table.schema().fields
            if not (args.scd2 and f.name in SCD2_COLS)
        ]
        refuse_partial_delivery(
            delivered_columns(spark, args.snapshot, fmt=args.format),
            required,
            args.snapshot,
        )
        reader = spark.read.schema(schema)
        snapshot = (
            reader.parquet(args.snapshot)
            if args.format == "parquet"
            else reader.json(args.snapshot)
        )
        fn = apply_snapshot_scd2 if args.scd2 else apply_snapshot
        kw = {} if args.scd2 else {"strategy": args.strategy}
        info = fn(
            table, snapshot,
            snapshot_lsn=args.watermark,
            batch_id=args.batch_id,
            quarantine=quarantine,
            **kw,
        )
    print(json.dumps(info, default=str))
    return 0


def cmd_audit(args) -> int:
    """Continuity audit — exit 1 on HARD findings (same-LSN payload
    conflicts in the log, overlapping batch ranges in the lineage),
    0 on clean or advisory-only, so it can gate a replay in a shell
    pipeline the way the reference's validation gate fronts its
    orchestrator (FnRouter.kt:72-89)."""
    from dexspark.cdc.audit import lineage_continuity_audit, log_continuity_audit
    from dexspark.sources.changelog import read_log

    if not args.table and not args.log:
        print("audit: need --table and/or --log", file=sys.stderr)
        return 2
    spark = _spark(args)
    findings: list[dict] = []
    if args.log:
        df = read_log(spark, args.log, fmt=args.format)
        rows = log_continuity_audit(
            df, expected_min=args.expect_min, expected_max=args.expect_max
        ).limit(args.max_findings + 1).collect()
        findings += [{"scope": "log", **r.asDict()} for r in rows]
    if args.table:
        rows = (
            lineage_continuity_audit(LakeTable(spark, args.table))
            .limit(args.max_findings + 1)
            .collect()
        )
        findings += [{"scope": "lineage", **r.asDict()} for r in rows]
    truncated = len(findings) > args.max_findings
    findings = findings[: args.max_findings]
    hard = sum(1 for f in findings if f["kind"] in ("conflict", "overlap"))
    print(
        json.dumps(
            {"findings": findings, "hard": hard, "truncated": truncated},
            default=str,
        )
    )
    return 1 if hard else 0


def cmd_constraint(args) -> int:
    """Declare / drop / list CHECK constraints (≙ Delta ALTER TABLE
    ADD CONSTRAINT, DLT expectations — lake/constraints.py)."""
    spark = _spark(args)
    t = LakeTable(spark, args.table)
    if args.action == "add":
        if not args.name or not args.expr:
            raise SystemExit("constraint add needs --name and --expr")
        info = t.add_constraint(
            args.name, args.expr, on_violation=args.on_violation
        )
        print(json.dumps(info))
    elif args.action == "drop":
        if not args.name:
            raise SystemExit("constraint drop needs --name")
        print(json.dumps(t.drop_constraint(args.name)))
    else:
        print(json.dumps(t.constraints()))
    return 0


def cmd_profile(args) -> int:
    """Column profile for a lake table: per-column KMV distinct
    estimate (functions/sketches.py — reproducible, unlike HLL) plus
    null count, and the table's metadata-provable row count. One
    distinct-hash shuffle per profiled column — the scheduled
    data-profiling job, not a per-batch path."""
    from dexspark.functions.sketches import kmv_distinct

    spark = _spark(args)
    t = LakeTable(spark, args.table)
    df = t.read()
    cols = args.columns.split(",") if args.columns else df.columns
    import pyspark.sql.functions as F

    nulls = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
    ).first()
    out = {"table": args.table, "rows": t.count_rows(), "columns": {}}
    for c in cols:
        r = kmv_distinct(df, c, k=args.k).first()
        out["columns"][c] = {
            "distinct_est": int(r.distinct_est),
            "exact": bool(r.n_hashes < args.k),
            "nulls": int(nulls[c] or 0),
        }
    print(json.dumps(out))
    return 0


def cmd_status(args) -> int:
    spark = _spark(args)
    t = LakeTable(spark, args.table)
    m = t.manifest()
    counts = t.count_rows(detail=True)  # metadata where provable
    import datetime as _dt

    print(
        json.dumps(
            {
                "version": m.version,
                "committed_at": (
                    _dt.datetime.fromtimestamp(
                        m.committed_at, _dt.timezone.utc
                    ).isoformat()
                    if m.committed_at
                    else None
                ),
                "rows": counts["rows"],
                "rows_from_metadata_files": counts["metadata_files"],
                "rows_scanned_files": counts["scanned_files"],
                "files": len(m.files),
                "manifest_format": 2 if m.segment_names else 1,
                "manifest_segments": len(m.segment_names),
                "delta_files": sum(1 for f in m.files if f.kind == "delta"),
                "dv_positions": sum(f.dv_count for f in m.files),
                "bloom_cols": sorted(
                    {c for f in m.files for c in f.bloom_cols}
                ),
                "bloom_coverage": t.bloom_coverage(),
                "num_buckets": m.num_buckets,
                "layout_status": t.layout_status(),
                "bucket_key": m.bucket_key,
                "schema": t.schema().simpleString(),
                "constraints": t.constraints(),
                "committed_batches": sorted(map(str, t.committed_batch_ids())),
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dexspark")
    p.add_argument("--master", default=None, help="override spark master (tests)")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("replay", help="tail change log and apply to table")
    r.add_argument("--log", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--quarantine", default=None)
    r.add_argument("--bucket-key", default="conv_id")
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--salt", type=int, default=0)
    r.add_argument(
        "--branch",
        default=None,
        help="stage the replay on this branch (created if absent) "
             "instead of committing to main — write-audit-publish",
    )
    r.add_argument("--max-files-per-trigger", type=int, default=0)
    r.add_argument("--log-format", choices=["parquet", "json"], default="parquet")
    r.add_argument("--payload-schema", default=PAYLOAD_DDL)
    r.add_argument(
        "--extra-columns",
        default=None,
        help='evolved payload columns in the log, e.g. "model string"',
    )
    r.add_argument(
        "--strategy", choices=["cow", "mor"], default="cow",
        help="merge mode: cow rewrites affected buckets; mor appends "
             "O(batch) delta files (fold them with `dexspark maintain` "
             "once the replay has drained the log)",
    )
    r.add_argument(
        "--mode", choices=["scd1", "scd2"], default="scd1",
        help="scd1 keeps the latest image per key; scd2 keeps every "
             "version as an LSN validity interval (full-history table; "
             "created with the scd2 schema when absent)",
    )
    r.set_defaults(fn=cmd_replay)

    rr = sub.add_parser(
        "replay-routed",
        help="tail one change log and demux it into N tables by route config",
    )
    rr.add_argument("--log", required=True)
    rr.add_argument(
        "--routes", required=True,
        help="JSON route config: type_col, default_route, routes, "
             "tables (route -> path), optional quarantines",
    )
    rr.add_argument("--checkpoint", required=True)
    rr.add_argument("--bucket-key", default="conv_id")
    rr.add_argument("--buckets", type=int, default=64)
    rr.add_argument("--max-files-per-trigger", type=int, default=0)
    rr.add_argument("--log-format", choices=["parquet", "json"], default="parquet")
    rr.add_argument("--payload-schema", default=PAYLOAD_DDL)
    rr.add_argument(
        "--extra-columns",
        default=None,
        help='log columns beyond the base schema, e.g. "stream_id string"',
    )
    rr.add_argument("--strategy", choices=["cow", "mor"], default="cow")
    rr.add_argument(
        "--concurrency", type=int, default=1,
        help="destinations applied at once per micro-batch (driver "
             "threads; destinations never share state, so >1 is safe)",
    )
    rr.set_defaults(fn=cmd_replay_routed)

    c = sub.add_parser("compact", help="bin-pack small data files")
    c.add_argument("--table", required=True)
    c.add_argument("--min-files", type=int, default=2)
    c.add_argument(
        "--cluster-by", default=None,
        help="comma-separated sort columns: rewrite each bucket as "
             "range-disjoint files so min/max stats prune range reads "
             "after compaction (Delta OPTIMIZE ZORDER analogue)",
    )
    c.add_argument("--files-per-bucket", type=int, default=4)
    c.add_argument(
        "--zorder", action="store_true",
        help="z-curve interleave the >=2 --cluster-by columns so file "
             "stats prune box predicates on every clustered dimension",
    )
    c.set_defaults(fn=cmd_compact)

    e = sub.add_parser("expire", help="expire snapshots + vacuum")
    e.add_argument("--table", required=True)
    e.add_argument("--keep-last", type=int, default=10)
    e.add_argument(
        "--older-than", type=float, default=None,
        help="age floor in seconds: snapshots younger than this "
             "survive even beyond --keep-last (production retention: "
             "'expire older than 7 days, keep at least N')",
    )
    e.set_defaults(fn=cmd_expire)

    rb = sub.add_parser(
        "rebucket",
        help="change the table's bucket count (layout evolution for "
             "grown tables); full rewrite, content-preserving",
    )
    rb.add_argument("--table", required=True)
    rb.add_argument("--buckets", type=int, required=True)
    rb.set_defaults(fn=cmd_rebucket)

    el = sub.add_parser(
        "evolve-layout",
        help="change the table's bucket count as a METADATA-ONLY "
             "commit (zero data movement); old files migrate "
             "incrementally via merges/compaction/maintain — use "
             "rebucket for an eager rewrite or a non-chain count",
    )
    el.add_argument("--table", required=True)
    el.add_argument("--buckets", type=int, required=True)
    el.set_defaults(fn=cmd_evolve_layout)

    ro = sub.add_parser(
        "rollback",
        help="restore the table to a previous snapshot (bad-batch "
             "remediation); O(1) metadata-only, history preserved, "
             "exactly-once ledger rewound so corrected batches re-apply",
    )
    ro.add_argument("--table", required=True)
    ro.add_argument("--to-version", type=int, required=True)
    ro.set_defaults(fn=cmd_rollback)

    bp = sub.add_parser(
        "branch",
        help="write-audit-publish refs: stage commits on a branch "
             "(replay --branch), audit, then atomically publish to "
             "main or drop",
    )
    bp.add_argument("action", choices=["create", "publish", "drop", "list"])
    bp.add_argument("--table", required=True)
    bp.add_argument("--name", help="branch name (all but 'list')")
    bp.set_defaults(fn=cmd_branch)

    tg = sub.add_parser(
        "tag",
        help="immutable named snapshots (reproducibility pins): a "
             "tagged snapshot survives expire until dropped",
    )
    tg.add_argument("action", choices=["create", "drop", "list"])
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", help="tag name (all but 'list')")
    tg.add_argument("--at-version", type=int, default=None)
    tg.set_defaults(fn=cmd_tag)

    bb = sub.add_parser(
        "build-blooms",
        help="build secondary bloom sidecars over a column so = "
             "predicates (non-key RTBF sweeps) prune files",
    )
    bb.add_argument("--table", required=True)
    bb.add_argument("--column", required=True)
    bb.set_defaults(fn=cmd_build_blooms)

    mt = sub.add_parser(
        "maintain",
        help="one-call metadata-driven maintenance: compact buckets "
             "whose file count / MOR delta depth / deletion-vector "
             "ratio crossed policy thresholds, then optionally expire "
             "snapshots and vacuum orphans",
    )
    mt.add_argument("--table", required=True)
    mt.add_argument("--compact-min-files", type=int, default=4)
    mt.add_argument(
        "--delta-depth", type=int, default=4,
        help="compact a bucket once this many MOR delta files are "
             "outstanding (read-amplification bound)",
    )
    mt.add_argument(
        "--dv-ratio", type=float, default=0.05,
        help="compact a bucket once deletion-vector positions exceed "
             "this fraction of its physical rows",
    )
    mt.add_argument(
        "--bloom-uncovered-files", type=int, default=1,
        help="rebuild a build_blooms-indexed column's sidecars once "
             "this many files lack coverage (0/negative never fires; "
             "keeps point-predicate pruning current after ingest)",
    )
    mt.add_argument(
        "--expire-keep-last", type=int, default=None,
        help="also expire snapshots, keeping this many (skip if unset)",
    )
    mt.add_argument(
        "--vacuum-grace", type=float, default=None,
        help="also vacuum orphans older than this many seconds "
             "(skip if unset)",
    )
    mt.add_argument("--cluster-by", default=None)
    mt.add_argument("--zorder", action="store_true")
    mt.add_argument("--files-per-bucket", type=int, default=4)
    mt.set_defaults(fn=cmd_maintain)

    vo = sub.add_parser(
        "vacuum-orphans",
        help="GC data files no retained manifest references "
             "(losers of commit races)",
    )
    vo.add_argument("--table", required=True)
    vo.add_argument(
        "--older-than", type=float, default=24 * 3600,
        help="grace period in seconds for in-flight writers (default 24h)",
    )
    vo.set_defaults(fn=cmd_vacuum_orphans)

    mi = sub.add_parser("mirror", help="mirror an upstream table's change feed")
    mi.add_argument("--source", required=True)
    mi.add_argument("--table", required=True)
    mi.add_argument("--keys", default="conv_id,turn_idx")
    mi.add_argument("--buckets", type=int, default=0)
    mi.set_defaults(fn=cmd_mirror)

    ca = sub.add_parser("catalog", help="multi-table atomic pin sets")
    ca.add_argument("action", choices=["create", "commit", "show"])
    ca.add_argument("--dir", required=True, help="catalog directory")
    ca.add_argument(
        "--tables", nargs="*", default=[],
        help="create: name=path pairs to pin",
    )
    ca.add_argument(
        "--members", default="",
        help="commit: comma-separated member names (default: all)",
    )
    ca.add_argument("--version", type=int, default=-1, help="show: pin-set version")
    ca.set_defaults(fn=cmd_catalog)

    ex = sub.add_parser(
        "export-changes", help="export the change feed to file segments"
    )
    ex.add_argument("--table", required=True)
    ex.add_argument("--out", required=True, help="export directory")
    ex.add_argument("--format", default="parquet", choices=["parquet", "json"])
    ex.add_argument("--keys", default="")
    ex.set_defaults(fn=cmd_export_changes)

    vr = sub.add_parser(
        "view-refresh", help="maintain an incremental aggregate rollup view"
    )
    vr.add_argument("--table", required=True, help="source table dir")
    vr.add_argument("--view", required=True, help="view table dir")
    vr.add_argument(
        "--group-by", required=True, help="comma-separated grouping columns"
    )
    vr.add_argument(
        "--sums", default="",
        help='JSON name->expr, e.g. {"sum_len": "length(text)"}',
    )
    vr.add_argument("--mins", default="", help="JSON name->expr (MIN)")
    vr.add_argument("--maxs", default="", help="JSON name->expr (MAX)")
    vr.add_argument("--buckets", type=int, default=8)
    vr.set_defaults(fn=cmd_view_refresh)

    si = sub.add_parser(
        "sigindex-refresh",
        help="maintain the incremental near-dup signature index",
    )
    si.add_argument("--table", required=True, help="source docs table dir")
    si.add_argument("--index", required=True, help="index table dir")
    si.add_argument("--id-col", default="doc_id")
    si.add_argument("--text-col", default="text")
    si.add_argument("--num-hashes", type=int, default=64)
    si.add_argument("--shingle-n", type=int, default=3)
    si.set_defaults(fn=cmd_sigindex_refresh)

    vi = sub.add_parser(
        "vecindex-refresh",
        help="maintain the incremental IVF inverted-file vector index",
    )
    vi.add_argument("--table", required=True, help="source vectors table dir")
    vi.add_argument("--index", required=True, help="index table dir")
    vi.add_argument("--dim", type=int, required=True)
    vi.add_argument("--id-col", default="vec_id")
    vi.add_argument("--vec-col", default="embedding")
    vi.add_argument("--n-centroids", type=int, default=8)
    vi.set_defaults(fn=cmd_vecindex_refresh)

    dg = sub.add_parser(
        "dedup-gate",
        help="screen an incoming parquet batch against the indexed corpus",
    )
    dg.add_argument("--table", required=True, help="corpus table dir")
    dg.add_argument("--index", required=True, help="signature index dir")
    dg.add_argument("--incoming", required=True, help="incoming parquet path")
    dg.add_argument("--out", default=None, help="write hit pairs here")
    dg.add_argument("--id-col", default="doc_id")
    dg.add_argument("--text-col", default="text")
    dg.add_argument("--num-hashes", type=int, default=64)
    dg.add_argument("--bands", type=int, default=32)
    dg.add_argument("--shingle-n", type=int, default=3)
    dg.add_argument("--min-jaccard-x1000", type=int, default=800)
    dg.set_defaults(fn=cmd_dedup_gate)

    rp = sub.add_parser(
        "reprocess", help="fix + replay quarantined (dead-letter) rows"
    )
    rp.add_argument("--table", required=True)
    rp.add_argument("--quarantine", required=True)
    rp.add_argument(
        "--fix-config", required=True,
        help='JSON fix spec, e.g. {"remap": {"role": {"alien": "user"}}, '
             '"coalesce": {"text": "(redacted)"}}',
    )
    rp.add_argument("--batch-id", required=True)
    rp.set_defaults(fn=cmd_reprocess)

    dl = sub.add_parser(
        "delete", help="predicate DELETE (retention sweep / RTBF)"
    )
    dl.add_argument("--table", required=True)
    dl.add_argument(
        "--where", action="append", required=True,
        help="col:op:value, repeatable (AND-ed); op in =,<,<=,>,>=; "
             "timestamps in ISO format, e.g. ts:<:2024-01-01T00:08:00",
    )
    dl.add_argument(
        "--strategy", choices=["copy", "dv"], default="copy",
        help="copy = rewrite matching files (immediate physical purge); "
             "dv = deletion vectors, O(matched rows) commit with the "
             "purge deferred to the next `compact`",
    )
    dl.set_defaults(fn=cmd_delete)

    bs = sub.add_parser(
        "bootstrap",
        help="seed a fresh table from a full snapshot at a watermark LSN "
             "(initial load before `replay` tails the log)",
    )
    bs.add_argument("--table", required=True)
    bs.add_argument("--snapshot", required=True, help="snapshot data dir")
    bs.add_argument("--watermark", type=int, required=True)
    bs.add_argument(
        "--deletes", default=None,
        help="dir of (key cols + lsn) rows for keys deleted at-or-before "
             "the watermark — seeded as tombstones so an overlapping tail "
             "cannot resurrect them",
    )
    bs.add_argument(
        "--deletes-schema", default="conv_id string, turn_idx int, lsn long"
    )
    bs.add_argument("--format", choices=["parquet", "json"], default="parquet")
    bs.add_argument("--payload-schema", default=PAYLOAD_DDL)
    bs.add_argument("--bucket-key", default="conv_id")
    bs.add_argument("--buckets", type=int, default=64)
    bs.add_argument("--batch-id", default="bootstrap")
    bs.set_defaults(fn=cmd_bootstrap)

    isnap = sub.add_parser(
        "ingest-snapshot",
        help="ingest one full snapshot from a snapshot-only source "
             "(diffed into I/U/D against current state; run per "
             "delivery, in feed order)",
    )
    isnap.add_argument("--table", required=True)
    isnap.add_argument("--snapshot", default=None, help="snapshot data dir")
    isnap.add_argument(
        "--watermark", type=int, default=None,
        help="the snapshot's position in the feed's total order",
    )
    isnap.add_argument(
        "--feed", default=None,
        help="drop-zone dir of snapshot-<lsn>/ deliveries — catch up "
             "on every pending one in order",
    )
    isnap.add_argument("--format", choices=["parquet", "json"], default="parquet")
    isnap.add_argument("--payload-schema", default=PAYLOAD_DDL)
    isnap.add_argument("--bucket-key", default="conv_id")
    isnap.add_argument("--buckets", type=int, default=64)
    isnap.add_argument("--batch-id", default=None)
    isnap.add_argument("--quarantine", default=None)
    isnap.add_argument("--strategy", choices=["cow", "mor"], default="cow")
    isnap.add_argument(
        "--scd2", action="store_true",
        help="materialize the feed as a full SCD2 history "
             "(creates the table with scd2_schema on first use)",
    )
    isnap.add_argument(
        "--checkpoint", default=None,
        help="with --feed: consume the drop zone's _ready/ markers on "
             "the streaming chassis (SnapshotStreamIngest) — same "
             "checkpoint/restart story as `replay`; resumes at the "
             "first unprocessed delivery",
    )
    isnap.set_defaults(fn=cmd_ingest_snapshot)

    au = sub.add_parser(
        "audit", help="continuity audit over a change log and/or table lineage"
    )
    au.add_argument("--table", default=None, help="lineage-range audit target")
    au.add_argument("--log", default=None, help="change-log dir to gap-audit")
    au.add_argument("--format", default="parquet", choices=["parquet", "json"])
    au.add_argument("--expect-min", type=int, default=None)
    au.add_argument("--expect-max", type=int, default=None)
    au.add_argument("--max-findings", type=int, default=1000)
    au.set_defaults(fn=cmd_audit)

    ct = sub.add_parser(
        "constraint",
        help="declare/drop/list CHECK constraints on a table",
    )
    ct.add_argument("action", choices=["add", "drop", "list"])
    ct.add_argument("--table", required=True)
    ct.add_argument("--name", default=None)
    ct.add_argument("--expr", default=None, help="SQL CHECK predicate")
    ct.add_argument(
        "--on-violation", choices=["fail", "drop"], default="fail",
        help="fail = hard invariant on every write; drop = expectation "
             "the CDC pipeline quarantines on",
    )
    ct.set_defaults(fn=cmd_constraint)

    s = sub.add_parser("status", help="print table status")
    s.add_argument("--table", required=True)
    s.set_defaults(fn=cmd_status)

    pf = sub.add_parser(
        "profile",
        help="per-column distinct estimates (KMV sketch) + null counts",
    )
    pf.add_argument("--table", required=True)
    pf.add_argument(
        "--columns", default=None, help="comma-separated (default: all)"
    )
    pf.add_argument("--k", type=int, default=1024)
    pf.set_defaults(fn=cmd_profile)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
