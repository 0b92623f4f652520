"""Routed multi-table ingest: one change stream demultiplexed into N
lake tables through a config lookup, exactly-once per destination.

This is the reference's core topology — ingest → route → deliver to a
per-destination store (RouteIngestedFile.kt:44-66 resolves the route
from config and copies to that destination's container; FnRouter.kt
:138-149 is the two-key variant) — expressed against lake tables
instead of blob folders. The routing probe itself is the existing O7
broadcast lookup (operators/routing.py); what this module adds is the
delivery contract the reference gets from idempotent blob copies:
**each destination table keeps its own exactly-once ledger**, so a
crash after destination k commits but before destination k+1 replays
the batch, destinations 1..k no-op via their ledgers, and k+1..N apply
— net exactly-once per destination with no cross-table transaction
needed (destinations never share state; the batch is the unit of
redelivery).

Scale shape (10^10 events, hundreds of destinations):

- the route stamp is one broadcast-hash probe inside codegen — the
  event stream is never shuffled by routing;
- the stamped batch is persisted ONCE and each destination filters its
  slice from the cache (N cheap scans of one materialization, not N
  source recomputes);
- per-route row counts come from ONE map-combined count job, which
  both feeds metrics and lets empty destinations skip deterministically
  (no per-destination emptiness probes);
- each destination's validate → dedup → merge then touches only its
  slice and shuffles on its OWN bucket key — destinations are fully
  independent jobs, so a real cluster can run them concurrently; the
  sequential loop here is a driver-simplicity choice, not a data
  dependency.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from dexspark.cdc.apply import apply_changes
from dexspark.cdc.validate import ValidationConfig
from dexspark.lake.table import LakeTable
from dexspark.operators.routing import DEFAULT_ROUTE, ROUTE_COL, route_by_config


def apply_routed(
    tables: dict[str, LakeTable],
    events: DataFrame,
    routes: DataFrame,
    batch_id: str,
    type_col: str = "stream_id",
    default_route: str = DEFAULT_ROUTE,
    cfg: ValidationConfig | None = None,
    quarantines: dict[str, LakeTable] | None = None,
    salt_buckets: int | None = None,
    strategy: str = "cow",
    concurrency: int = 1,
    catalog=None,
) -> dict[str, Any]:
    """Demux one batch into ``tables`` (route → destination) and apply
    each slice through the normal validate → dedup → merge path under
    the SAME batch_id — idempotent per destination via that
    destination's own ledger.

    ``routes`` is the (message_type, route) lookup of
    operators.routing; unknown ``type_col`` values fall back to
    ``default_route`` (≙ the reference's "?" FileType,
    fileconfigs.json:17-22). Every route the config can produce —
    including the fallback — must have a destination table: a stamped
    row with nowhere to go is a config bug and fails fast here, not
    silently at delivery time.

    ``quarantines`` maps route → dead-letter table. Destinations must
    not share one quarantine: apply_changes gates the quarantine
    append on (quarantine ledger, batch_id), so the second destination
    writing the same batch_id to a shared table would silently drop
    its rejects. Enforced by path.

    ``concurrency`` > 1 applies that many destinations at once from
    driver threads — safe because destinations never share state (one
    table + one optional quarantine each, all reading slices of the
    one persisted batch) and Spark's scheduler accepts jobs from many
    threads; a failed destination fails the whole call, and the
    redelivered batch no-ops on the destinations that did commit.

    ``catalog`` (lake/catalog.py ``Catalog`` whose members are the
    route names) upgrades per-destination exactly-once to BATCH-ATOMIC
    CROSS-TABLE VISIBILITY: after — and only after — every destination
    committed, ONE atomic pin-set commit advances the catalog to the
    destinations' new heads. A consumer resolving through the catalog
    therefore never observes a half-fanned-out batch: a crash between
    destination commits leaves the pins at the previous consistent
    family (destination heads have moved, pins have not), and the
    redelivery — which no-ops the committed destinations and applies
    the rest — republishes the pins only once the family is whole
    again. This is the multi-table transaction boundary single-table
    ledgers cannot give (the reason lake/catalog.py exists), applied
    to the reference's demux topology.
    """
    known = {r[ROUTE_COL] for r in routes.select(ROUTE_COL).distinct().collect()}
    needed = known | {default_route}
    missing = sorted(needed - set(tables))
    if missing:
        raise ValueError(f"routes with no destination table: {missing}")
    if quarantines:
        paths = [q.table_dir for q in quarantines.values()]
        if len(set(paths)) != len(paths):
            raise ValueError(
                "destinations must not share a quarantine table "
                "(its ledger would drop the second destination's rejects)"
            )

    routed = route_by_config(
        events, routes, type_col=type_col, default_route=default_route
    ).persist()
    try:
        counts = {
            r[ROUTE_COL]: int(r["count"])
            for r in routed.groupBy(ROUTE_COL).count().collect()
        }
        results: dict[str, Any] = {"batch_id": batch_id, "routes": {}}

        def one(route: str) -> dict[str, Any]:
            n = counts.get(route, 0)
            if n == 0:
                # deterministic skip: a replayed batch re-derives the
                # same empty slice, so "no ledger entry" stays correct
                return {"routed": 0, "skipped": True}
            # type_col is transport metadata and is stripped — unless
            # the destination's payload declares it (routing on a real
            # payload column, e.g. role, must not delete that column)
            dest_cols = {f.name for f in tables[route].schema().fields}
            drop = [ROUTE_COL] + ([] if type_col in dest_cols else [type_col])
            slice_df = routed.filter(F.col(ROUTE_COL) == route).drop(*drop)
            res = apply_changes(
                tables[route],
                slice_df,
                batch_id=batch_id,
                cfg=cfg,
                quarantine=(quarantines or {}).get(route),
                salt_buckets=salt_buckets,
                strategy=strategy,
            )
            res["routed"] = n
            return res

        order = sorted(tables)
        if concurrency > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=concurrency) as pool:
                for route, res in zip(order, pool.map(one, order)):
                    results["routes"][route] = res
        else:
            for route in order:
                results["routes"][route] = one(route)
        if catalog is not None:
            # publish ONLY after every destination committed (a failed
            # destination raised above) — the all-or-nothing visibility
            # edge; None pins re-resolve to each member's current head.
            # A fully-no-op redelivery moves nothing and publishes
            # nothing (pin churn would bloat the catalog history).
            pins = catalog.pins()
            moved = any(
                tables[r].current_version() != pins[r]["version"]
                for r in order
                if r in pins
            )
            if moved:
                results["catalog_version"] = catalog.commit_with_retry(
                    {r: None for r in order}
                )
        return results
    finally:
        routed.unpersist()


def apply_routed_wap(
    tables: dict[str, LakeTable],
    events: DataFrame,
    routes: DataFrame,
    batch_id: str,
    catalog,
    type_col: str = "stream_id",
    default_route: str = DEFAULT_ROUTE,
    cfg: ValidationConfig | None = None,
    audit=None,
    salt_buckets: int | None = None,
    strategy: str = "cow",
) -> dict[str, Any]:
    """Catalog-level write-audit-publish over a routed fan-out: stage
    EVERY destination's slice on a per-table WAP branch, audit them
    all while main refs and catalog pins are untouched, then publish
    every branch and advance the catalog pin set — so a poisoned batch
    is dropped with ZERO movement anywhere, and a good batch becomes
    visible through the catalog all-at-once.

    Composition of the two existing atomicity tools (VERDICT r4 #7):
    per-table branches (``create_branch``/``publish_branch``, the
    single-table WAP) give a staging area that main readers cannot
    see; the catalog pin-set commit (lake/catalog.py) gives the
    cross-table visibility edge ``apply_routed(catalog=...)`` already
    uses. Staging on branches is what plain ``apply_routed`` cannot
    offer: there, destination MAIN heads advance one by one and only
    catalog readers are shielded — here even direct per-table readers
    never see an unaudited batch.

    ``audit(route, branch_table, apply_result) -> bool`` decides per
    destination (default: reject nothing — always publish). ANY
    failing destination aborts the whole family: every staged branch
    is dropped, main refs and pins never moved, and the batch ids are
    released for the corrected restage under the SAME ``batch_id``.

    Crash/redelivery contract:
    - crash mid-staging → branches are partial; redelivery drops the
      stale ``wap-<batch_id>`` branches and restages (staged batch ids
      live only in branch ledgers, which die with their branch);
    - crash mid-publish → some mains carry the batch (their ledgers
      fold the branch ids), pins unchanged; redelivery skips published
      destinations via their MAIN ledgers, restages + publishes the
      rest, then advances the pins once the family is whole;
    - a concurrent main commit between staging and publish surfaces as
      ``CommitConflict`` from the fast-forward — rerun to restage from
      the new heads (the same contract as single-table WAP).

    Scale shape: identical to ``apply_routed`` (one broadcast route
    stamp, one persisted batch, per-destination independent jobs);
    branches add O(1) metadata per destination, no data copies."""
    known = {r[ROUTE_COL] for r in routes.select(ROUTE_COL).distinct().collect()}
    missing = sorted((known | {default_route}) - set(tables))
    if missing:
        raise ValueError(f"routes with no destination table: {missing}")

    routed = route_by_config(
        events, routes, type_col=type_col, default_route=default_route
    ).persist()
    bname = f"wap-{batch_id}"
    try:
        counts = {
            r[ROUTE_COL]: int(r["count"])
            for r in routed.groupBy(ROUTE_COL).count().collect()
        }
        order = sorted(tables)
        results: dict[str, Any] = {"batch_id": batch_id, "routes": {}}
        staged: dict[str, LakeTable] = {}
        for route in order:
            t = tables[route]
            if batch_id in t.committed_batch_ids():
                # published by a previous (possibly crashed) delivery
                results["routes"][route] = {
                    "skipped": True, "reason": "already_committed",
                }
                continue
            if counts.get(route, 0) == 0:
                results["routes"][route] = {"routed": 0, "skipped": True}
                continue
            if bname in t.list_branches():
                t.drop_branch(bname)  # stale stage from a failed attempt
            bt = t.create_branch(bname)
            dest_cols = {f.name for f in t.schema().fields}
            drop = [ROUTE_COL] + ([] if type_col in dest_cols else [type_col])
            slice_df = routed.filter(F.col(ROUTE_COL) == route).drop(*drop)
            res = apply_changes(
                bt, slice_df, batch_id=batch_id, cfg=cfg,
                salt_buckets=salt_buckets, strategy=strategy,
            )
            res["routed"] = counts[route]
            results["routes"][route] = res
            staged[route] = bt

        failed = [
            r for r, bt in staged.items()
            if audit is not None
            and not audit(r, bt, results["routes"][r])
        ]
        if failed:
            for r in staged:
                tables[r].drop_branch(bname)
            results["published"] = False
            results["failed_audit"] = sorted(failed)
            return results

        for r in staged:
            tables[r].publish_branch(
                bname, summary={"batch_id": batch_id}
            )
            tables[r].drop_branch(bname)
        results["published"] = True

        pins = catalog.pins()
        moved = any(
            tables[r].current_version() != pins[r]["version"]
            for r in order
            if r in pins
        )
        if moved:
            results["catalog_version"] = catalog.commit_with_retry(
                {r: None for r in order}
            )
        return results
    finally:
        routed.unpersist()


class RoutedCdcStreamReplay:
    """Streaming demux: tail one ordered change log, route every
    micro-batch by config, deliver to N lake tables — the streaming
    composition of apply_routed with the same checkpoint/ledger
    exactly-once contract as CdcStreamReplay (streaming/replay.py):
    Spark's checkpoint redelivers a batch at least once with a stable
    epoch id; each destination's ledger makes its redelivery a no-op.
    A restart mid-fan-out is therefore safe even though N tables
    commit at N different moments."""

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, LakeTable],
        routes: DataFrame,
        log_dir: str,
        checkpoint_dir: str,
        log_schema: StructType,
        type_col: str = "stream_id",
        default_route: str = DEFAULT_ROUTE,
        cfg: ValidationConfig | None = None,
        quarantines: dict[str, LakeTable] | None = None,
        max_files_per_trigger: int | None = None,
        batch_id_prefix: str = "route",
        log_format: str = "parquet",
        strategy: str = "cow",
        concurrency: int = 1,
        catalog=None,
    ):
        from dexspark.streaming.replay import CdcStreamReplay

        self.spark = spark
        self.tables = tables
        self.routes = routes
        self.log_dir = log_dir
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_identity = CdcStreamReplay._checkpoint_identity(
            checkpoint_dir
        )
        self.log_schema = log_schema
        self.type_col = type_col
        self.default_route = default_route
        self.cfg = cfg
        self.quarantines = quarantines
        self.max_files_per_trigger = max_files_per_trigger
        self.batch_id_prefix = batch_id_prefix
        self.log_format = log_format
        self.strategy = strategy
        self.concurrency = concurrency
        # batch-atomic cross-table visibility: pins publish after each
        # fully-applied micro-batch (see apply_routed's catalog note);
        # a restart mid-fan-out leaves the previous consistent family
        # visible until the redelivery completes it
        self.catalog = catalog
        self.results: list[dict[str, Any]] = []

    def _foreach_batch(self, batch_df, epoch_id: int) -> None:
        import time

        t0 = time.monotonic()
        batch_id = f"{self.batch_id_prefix}-{self.checkpoint_identity}-{epoch_id}"
        res = apply_routed(
            self.tables,
            batch_df,
            self.routes,
            batch_id=batch_id,
            type_col=self.type_col,
            default_route=self.default_route,
            cfg=self.cfg,
            quarantines=self.quarantines,
            strategy=self.strategy,
            concurrency=self.concurrency,
            catalog=self.catalog,
        )
        res["metrics"] = {
            "epoch_id": int(epoch_id),
            "wall_sec": round(time.monotonic() - t0, 3),
            "routed": {
                k: v.get("routed", 0) for k, v in res["routes"].items()
            },
        }
        self.results.append(res)

    def run_available(self) -> list[dict[str, Any]]:
        from dexspark.sources.changelog import read_log_stream

        stream = read_log_stream(
            self.spark,
            self.log_dir,
            fmt=self.log_format,
            schema=self.log_schema,
            max_files_per_trigger=self.max_files_per_trigger,
        )
        q = (
            stream.writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.results
