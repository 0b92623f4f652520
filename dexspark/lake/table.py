"""LakeTable — bucketed, snapshot-isolated, copy-on-write table.

Scale design (the part that matters at 10^10 events / 100 TB):

- Data files are hash-bucketed on the merge key (``xxhash64 % B``).
  A MERGE reads and rewrites **only the buckets present in the batch**
  — file-level pruning happens in Python against the manifest, before
  Spark ever lists a file, so merge I/O is O(affected data), not
  O(table).
- The change batch is normally tiny relative to the table, so the
  anti-join that drops superseded target rows broadcasts the batch:
  the big (target) side is never shuffled and the rewrite stays
  partition-local. Above ``broadcast_threshold`` rows we fall back to a
  shuffle join and let AQE handle skew.
- ``num_buckets`` is the unit of merge parallelism AND write
  amplification: at 100 TB you would run B=4096 so a batch touching 1%
  of conversations rewrites ~1% of the table. Tests use B=8..32.

Reference parity: MERGE ≙ the routed copy + Redis last-writer-wins
upsert of the reference (RouteIngestedFile.kt:57-75,
FnCacheUpdater.kt:22-46); snapshot commit ≙ Durable Functions'
deterministic replay guarantee (FnOrchestrator.kt:194-204) — a replayed
batch whose batch_id is already in a committed summary is a no-op.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
from typing import Any, Callable, Iterable, TypeVar

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from dexspark.lake import bloom as lake_bloom
from dexspark.lake import constraints as lake_ct
from dexspark.lake import dv as lake_dv
from dexspark.lake import layout as lake_layout
from dexspark.lake import manifest as mf
from dexspark.lake import stats as lake_stats
from dexspark.lake import zorder as lake_zorder

BUCKET_COL = "_bucket"
# branch (write-audit-publish) layout: each branch is a manifest
# namespace under <table>/_refs/<name>/_manifests sharing the table's
# data directory — branch commits write real data files but a branch
# manifest is invisible to main-ref readers until publish_branch()
# lands ONE atomic main commit (≙ Iceberg branches / the WAP pattern,
# Delta's shallow clone + swap). The branch dir also holds _branch.json
# recording the main version the branch forked from.
REFS_DIR = "_refs"
BRANCH_META = "_branch.json"
# immutable named snapshots: <table>/_tags/<name>.json -> {version};
# a tagged snapshot (manifest + data files) survives expire_snapshots
TAGS_DIR = "_tags"
# system columns (physical, never in the logical schema):
# - SYS_LSN: highest change-LSN applied to the row; -1 for rows written
#   outside the CDC path (plain appends). Makes MERGE conditional
#   (last-writer-wins by LSN) so replay is COMMUTATIVE across batches —
#   an out-of-order or redelivered batch can never clobber newer data.
# - SYS_DELETED: delete tombstone. A delete keeps the row (flagged,
#   with the delete's LSN) instead of physically dropping it, so a late
#   out-of-order update with a lower LSN cannot resurrect a deleted
#   key. Tombstones are invisible to read(); compaction keeps them
#   (they carry merge state) until snapshot expiry ages them out with
#   their snapshots.
SYS_LSN = "_applied_lsn"
SYS_DELETED = "_deleted"

# widenings allowed by evolve_schema (Iceberg-compatible set)
_WIDENINGS = {
    (IntegerType(), LongType()),
    (IntegerType(), DoubleType()),
    (LongType(), DoubleType()),
    (FloatType(), DoubleType()),
}


class CommitConflict(Exception):
    """Another writer committed the same version first.

    Raised to callers only after the optimistic machinery gives up.
    Two levels handle a lost race. ``_commit_delta`` REBASES a commit
    whose work is still valid on the new head: append, MOR merge,
    ``delete_where`` and ``build_blooms`` (while the files they
    rewrote are still live), and COW merge / ``merge_into`` /
    ``compact`` (while no concurrent commit changed data in their
    buckets). Everything else RECOMPUTES: ``LakeTable._transact``
    backs off, re-reads the head and re-runs the operation (up to
    ``MAX_COMMIT_RETRIES`` times) — always for overwrite, rebucket,
    evolve_layout, rollback and the schema/constraint commits, and for
    any rebase ``_commit_delta`` refuses. ≙ the reference's
    at-least-once activity retry under Durable Functions
    (FnOrchestrator.kt:182-192) — a lost race costs a retry, never the
    job.
    """


# recompute attempts per mutating operation before surfacing the
# conflict; each attempt re-reads the head manifest so livelock would
# need a sustained faster writer on the SAME buckets
MAX_COMMIT_RETRIES = 8
# rebases of one computed commit onto successive new heads before
# _commit_delta hands the conflict to the recompute level
MAX_COMMIT_REBASES = 10
_T = TypeVar("_T")

# table property marking a column as secondary-bloom-indexed
# (set-once by build_blooms; maintain() keeps coverage current)
BLOOM_INDEXED_PREFIX = "bloom.indexed."


def _drop_stale_partitions(summary: dict[str, Any] | None) -> dict[str, Any] | None:
    """Strip per-bucket lineage whose bucket ids were computed under a
    layout a concurrent rebucket() replaced — a lineage row tagged with
    the wrong layout's bucket id is worse than an absent one."""
    if not summary or "partitions" not in summary:
        return summary
    out = {k: v for k, v in summary.items() if k != "partitions"}
    out["partitions_dropped"] = "layout_drift"
    return out


def _conflict_backoff(attempt: int) -> None:
    """Jittered exponential backoff between recompute attempts — breaks
    the lockstep where two writers with similar compute windows keep
    invalidating each other (same shape as Iceberg's
    commit.retry.min-wait-ms ladder)."""
    import random
    import time

    time.sleep(min(2.0, 0.05 * (2 ** attempt)) * (0.5 + random.random()))


def _validate_branch_name(name: str) -> None:
    import re

    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,127}", name):
        raise ValueError(
            f"invalid branch name {name!r}: use letters, digits, "
            "'.', '_', '-' (must not start with a separator)"
        )


class LakeTable:
    def __init__(
        self, spark: SparkSession, table_dir: str, branch: str | None = None
    ):
        self.spark = spark
        self.table_dir = os.path.abspath(table_dir)
        if branch is not None:
            _validate_branch_name(branch)
        self.branch = branch
        # manifests are read from / committed to the ref's namespace;
        # data files always live under (and are addressed relative to)
        # the table root, so branch and main share storage
        self.meta_dir = (
            self.table_dir
            if branch is None
            else os.path.join(self.table_dir, REFS_DIR, branch)
        )

    def _branch_base(self) -> int:
        """Main version this branch forked from (branch tables only)."""
        import json as _json

        assert self.branch is not None
        with open(os.path.join(self.meta_dir, BRANCH_META)) as fh:
            return int(_json.load(fh)["base"])

    # ---------------------------------------------------------------- create
    @staticmethod
    def create(
        spark: SparkSession,
        table_dir: str,
        schema: StructType,
        bucket_key: str,
        num_buckets: int = 32,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        if bucket_key not in schema.fieldNames():
            raise ValueError(f"bucket_key {bucket_key!r} not in schema")
        os.makedirs(table_dir, exist_ok=True)
        m = mf.Manifest(
            version=1,
            current_schema_id=1,
            schemas={1: schema.json()},
            bucket_key=bucket_key,
            num_buckets=num_buckets,
            files=[],
            summary={"operation": "create"},
            parent=None,
            properties=properties or {},
            field_ids={
                1: {
                    name: i + 1
                    for i, name in enumerate(schema.fieldNames())
                }
            },
        )
        mf.commit_manifest(table_dir, m)
        return LakeTable(spark, table_dir)

    @staticmethod
    def exists(table_dir: str) -> bool:
        return mf.latest_version(table_dir) is not None

    # ------------------------------------------------------------- manifests
    def current_version(self) -> int:
        v = mf.latest_version(self.meta_dir)
        if v is None:
            raise FileNotFoundError(f"no manifests under {self.meta_dir}")
        return v

    def manifest(self, version: int | None = None) -> mf.Manifest:
        v = version or self.current_version()
        try:
            return mf.read_manifest(self.meta_dir, v)
        except FileNotFoundError:
            # a branch holds only its fork-point manifest (hard-linked
            # at create_branch) plus its own commits; versions BELOW
            # the fork point resolve against main — time travel and
            # parent-chain walks cross the branch point transparently.
            # Versions above the base that are missing locally must NOT
            # fall back: main may have advanced independently and its
            # same-numbered manifests are a different lineage.
            if self.branch is not None and v < self._branch_base():
                return mf.read_manifest(self.table_dir, v)
            raise

    def schema(self, version: int | None = None) -> StructType:
        m = self.manifest(version)
        return StructType.fromJson(
            __import__("json").loads(m.schemas[m.current_schema_id])
        )

    def history(self) -> list[mf.Manifest]:
        return [self.manifest(v) for v in mf.available_versions(self.meta_dir)]

    def live_manifests(self):
        """Manifests on the LIVE lineage, head → root — the chain the
        exactly-once ledger is defined over. Walks parent pointers; a
        ``rollback`` commit jumps to its ``restored_version`` (batches
        whose effects were rolled back leave the lineage, so a
        corrected replay of the same batch id re-applies instead of
        no-opping). Stops at an expired manifest: entries past the
        retention horizon age out — size
        ``expire_snapshots(keep_last=)`` beyond the replay horizon."""
        try:
            m = self.manifest()
        except FileNotFoundError:
            return
        while True:
            yield m
            if m.summary.get("operation") == "rollback":
                nxt = m.summary.get("restored_version")
            else:
                nxt = m.parent
            if nxt is None:
                return
            try:
                m = self.manifest(nxt)
            except FileNotFoundError:
                return

    def _read_root(self, version: int) -> dict:
        """Root JSON with the same branch fall-back rule as
        ``manifest()`` — no file-list materialization."""
        try:
            return mf.read_root(self.meta_dir, version)
        except FileNotFoundError:
            if self.branch is not None and version < self._branch_base():
                return mf.read_root(self.table_dir, version)
            raise

    def live_summaries(self):
        """(version, summary) pairs on the LIVE lineage, head → root —
        the ``live_manifests`` walk from ROOT JSONs only: under
        segmented manifests a ledger/watermark check over the whole
        retained history reads O(versions) small roots, never
        O(versions × files) shards. Same rollback-jump and
        expiry-stop semantics."""
        try:
            d = self._read_root(self.current_version())
        except FileNotFoundError:
            return
        while True:
            summary = d.get("summary", {})
            yield int(d["version"]), summary
            if summary.get("operation") == "rollback":
                nxt = summary.get("restored_version")
            else:
                nxt = d.get("parent")
            if nxt is None:
                return
            try:
                d = self._read_root(int(nxt))
            except FileNotFoundError:
                return

    def committed_batch_ids(self) -> set[Any]:
        """Batch ids on the LIVE lineage — the exactly-once ledger
        (see ``live_manifests`` for the walk semantics; reads only
        manifest roots)."""
        ids: set[Any] = set()
        for _v, summary in self.live_summaries():
            if "batch_id" in summary:
                ids.add(summary["batch_id"])
            # a publish_branch commit carries the batch ids of every
            # branch-local commit it folded in — they join the ledger
            # exactly as if applied to main directly
            ids.update(summary.get("published_batch_ids", []))
        return ids

    def lineage_df(self) -> DataFrame:
        """Per-commit, per-bucket lineage as a DataFrame (the metrics table).

        Derived from manifest summaries — written atomically WITH the data,
        so it can never disagree with table contents.
        """
        rows = []
        for v in mf.available_versions(self.meta_dir):
            s = self._read_root(v).get("summary", {})  # roots only
            for part in s.get("partitions", []):
                rows.append(
                    (
                        v,
                        s.get("batch_id"),
                        int(part["bucket"]),
                        part.get("start_lsn"),
                        part.get("end_lsn"),
                        int(part.get("applied", 0)),
                        int(part.get("rejected", 0)),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "version long, batch_id string, bucket int, start_lsn long, "
            "end_lsn long, applied long, rejected long",
        )

    # ------------------------------------------------------------------ read
    def _bucket_expr(self, m: mf.Manifest):
        return F.pmod(F.xxhash64(F.col(m.bucket_key)), F.lit(m.num_buckets)).cast("int")

    @staticmethod
    def _key_eq_values(
        filters: list[tuple[str, str, Any]] | None, m: mf.Manifest
    ) -> list[Any]:
        """Values of ``=`` conjuncts on the bucket key — the predicates
        the per-file key blooms (lake/bloom.py) can decide."""
        return [
            v for c, op, v in (filters or []) if op == "=" and c == m.bucket_key
        ]

    def _buckets_for_keys(
        self, m: mf.Manifest, key_vals: list[Any]
    ) -> dict[int, int] | None:
        """Per-LAYOUT bucket of the required key value: ``{layout:
        bucket}`` for every layout live in the manifest (after
        ``evolve_layout`` a table can hold files under several), or
        None when no key predicate restricts the scan. A file is
        prunable iff ``f.bucket != result[f.layout]`` — exact under
        the file's OWN layout, which is what makes point lookups keep
        pruning mid-migration. Bucket placement is
        pmod(xxhash64(key), n): the raw hash comes from a one-row
        Spark job (the Python side never re-implements xxhash64) and
        the per-layout residue is plain ``%`` (Python ``%`` and Spark
        ``pmod`` agree for positive moduli). Two DIFFERENT required
        key values make the conjunction unsatisfiable → {} (scan
        nothing)."""
        vals = [v for v in key_vals if v is not None]
        if not vals:
            return None
        ktype = next(
            f.dataType
            for f in self.schema(m.version).fields
            if f.name == m.bucket_key
        )
        def _same(a: Any, b: Any) -> bool:
            # values are canonicalized to the column's type upstream,
            # so direct equality is sound (5 vs 5.0 already unified) —
            # except NaN, which Spark SQL defines as EQUAL to itself
            # in predicates while Python does not
            return a == b or (a != a and b != b)

        if any(not _same(v, vals[0]) for v in vals[1:]):
            return {}  # x = 'a' AND x = 'b'
        row = (
            self.spark.range(1)
            .select(
                F.xxhash64(F.lit(vals[0]).cast(ktype)).alias("h")
            )
            .first()
        )
        h = int(row["h"])
        layouts = {f.layout for f in m.files} | {m.num_buckets}
        return {n: h % n for n in layouts}

    def _mor_partition(
        self, files: list[mf.DataFile], m: mf.Manifest
    ) -> tuple[list[mf.DataFile], list[mf.DataFile]]:
        """Split ``files`` into ``(res_files, clean_files)``: res =
        every file whose key-space intersects an outstanding MOR delta
        (transitively — after ``evolve_layout`` an old coarse base
        file can share keys with a new-layout delta, and the max-LSN
        resolve must see every version of every key it collapses),
        clean = the rest. Single-layout fast path: res = files of the
        delta buckets, exactly the pre-evolution behavior."""
        deltas = [f for f in files if f.kind == "delta"]
        if not deltas:
            return [], list(files)
        if not lake_layout.is_mixed(files, m.num_buckets):
            db = {f.bucket for f in deltas}
            return (
                [f for f in files if f.bucket in db],
                [f for f in files if f.bucket not in db],
            )
        seeds = set()
        for f in deltas:
            g = math.gcd(f.layout, m.num_buckets)
            seeds.update(range(f.bucket % g, m.num_buckets, g))
        _s, members = lake_layout.close_buckets(seeds, files, m.num_buckets)
        mem = {id(f) for f in members}
        return members, [f for f in files if id(f) not in mem]

    def buckets_for_values(self, values: list[Any]) -> set[int]:
        """Buckets that can hold rows whose bucket key equals ANY of
        ``values`` — the IN/union shape (``_buckets_for_keys`` handles
        the ``=``-conjunction shape). One tiny Spark job over the
        VALUE LIST (so the Python side never re-implements Spark's
        xxhash64), never the data. Callers pair this with
        ``read(buckets=...)`` + a row-level ``isin`` filter to get a
        single bucket-pruned scan for a multi-key lookup."""
        m = self.manifest()
        vals = [v for v in values if v is not None]
        if not vals:
            return set()
        ktype = next(
            f.dataType
            for f in self.schema(m.version).fields
            if f.name == m.bucket_key
        )
        rows = (
            self.spark.createDataFrame(
                [(v,) for v in vals],
                StructType([StructField("v", ktype, True)]),
            )
            .select(
                F.pmod(F.xxhash64(F.col("v")), F.lit(m.num_buckets))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        )
        return {int(r["b"]) for r in rows}

    def _bloom_keep(
        self,
        f: mf.DataFile,
        key_vals: list[Any],
        filters: list[tuple[str, str, Any]] | None = None,
    ) -> bool:
        """False only when a bloom sidecar PROVES some required ``=``
        conjunct cannot match the file — the bucket-key bloom for key
        predicates, a secondary-column bloom (``build_blooms``) for
        any other ``=`` conjunct on a column the file has one for. No
        sidecar → keep (pure optimization, never changes results)."""
        p = os.path.join(self.table_dir, f.path)
        if f.bloom and key_vals:
            if not all(lake_bloom.file_may_contain(p, v) for v in key_vals):
                return False
        if f.bloom_cols and filters:
            for c, op, v in filters:
                if (
                    op == "="
                    and v is not None
                    and c in f.bloom_cols
                    and not lake_bloom.file_may_contain(p, v, col=c)
                ):
                    return False
        return True

    def build_blooms(self, column: str) -> dict[str, Any]:
        """Build SECONDARY bloom sidecars over ``column`` for every
        data file that lacks one — the Iceberg-puffin secondary-index
        analogue, generalizing the automatic bucket-key blooms to any
        column. After this, an ``=`` predicate on the column prunes
        files the min/max stats cannot decide (strings especially):
        the non-key RTBF sweep ``delete_where([("author", "=", X)])``
        rewrites only the files that may hold X instead of the table.

        Cost: ONE thin column read per uncovered file (driver-side,
        O(table) the first time, O(new files) on re-runs) — the price
        every secondary-index build pays. The manifest update is
        surgical (paths unchanged, entries gain the column). Files
        written before a RENAME of ``column`` are read under their
        writer-local name (field-id mapping); a rename AFTER the
        build orphans the sidecars' names — conservative (no pruning,
        never wrong) until blooms are rebuilt under the new name."""

        def attempt(m: mf.Manifest) -> dict[str, Any]:
            current = self.schema(m.version)
            if column not in current.fieldNames():
                raise ValueError(f"no column {column!r} to index")
            if column == m.bucket_key:
                raise ValueError(
                    f"{column!r} is the bucket key — its blooms are "
                    "built automatically at commit time"
                )
            fid = m.field_ids.get(m.current_schema_id, {}).get(column)
            updated: list[mf.DataFile] = []
            built = 0
            for f in m.files:
                if column in f.bloom_cols:
                    continue
                wname = column
                if fid is not None and f.schema_id in m.field_ids:
                    inv = {
                        i: n for n, i in m.field_ids[f.schema_id].items()
                    }
                    wname = inv.get(fid)
                    if wname is None:
                        continue  # column does not exist in that schema
                ok = lake_bloom.write_for_file(
                    os.path.join(self.table_dir, f.path),
                    wname,
                    sidecar_col=column,
                )
                if not ok:
                    continue
                built += 1
                updated.append(
                    dataclasses.replace(f, bloom_cols=f.bloom_cols + [column])
                )
            # record the column as INDEXED in table properties (set-
            # once, per column) so maintain() keeps coverage current as
            # new files land — the policy trigger for auto-rebuilds
            prop_key = f"{BLOOM_INDEXED_PREFIX}{column}"
            prop_updates = (
                {prop_key: "1"} if prop_key not in m.properties else None
            )
            if not updated:
                if prop_updates:
                    # metadata-only commit: everything is covered (or
                    # the table is empty) but the intent to keep this
                    # column indexed must still be recorded
                    self._commit_delta(
                        m, set(), [],
                        {
                            "operation": "build_blooms",
                            "column": column,
                            "files_indexed": 0,
                        },
                        prop_updates=prop_updates,
                    )
                return {
                    "operation": "build_blooms",
                    "column": column,
                    "files_indexed": 0,
                    "skipped": True,
                }
            info = {
                "operation": "build_blooms",
                "column": column,
                "files_indexed": built,
            }
            self._commit_delta(
                m,
                {f.path for f in updated},
                updated,
                info,
                prop_updates=prop_updates,
                affected_buckets={f.bucket for f in updated},
                surgical=True,
            )
            return info

        return self._transact(attempt)

    def resolve_as_of(self, ts: Any) -> int:
        """Version of the newest snapshot committed at or before
        ``ts`` (datetime — naive means UTC, matching the session
        timezone — or epoch seconds). ≙ Iceberg/Delta ``TIMESTAMP AS
        OF``. Commit stamps are monotone along the chain
        (manifest.py), so the answer is well-defined; snapshots from
        before the stamp existed (or expired away) are simply not
        candidates. Raises if no retained snapshot is old enough."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            epoch = ts.timestamp()
        else:
            epoch = float(ts)
        best: int | None = None
        for v in mf.available_versions(self.meta_dir):
            stamp = self._read_root(v).get("committed_at")  # root-only
            if stamp is not None and stamp <= epoch:
                if best is None or v > best:
                    best = v
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before {ts!r}"
            )
        return best

    def read(
        self,
        version: int | None = None,
        buckets: Iterable[int] | None = None,
        include_system: bool = False,
        filters: list[tuple[str, str, Any]] | None = None,
        columns: list[str] | None = None,
        tag: str | None = None,
        as_of: Any = None,
        buckets_layout: int | None = None,
    ) -> DataFrame:
        """Current (or time-travel) state of the table.

        ``filters`` — conjunction of ``(column, op, value)`` with op in
        ``=, <, <=, >, >=`` — prunes data files whose manifest min/max
        stats prove no row can match (lake/stats.py), plus — for ``=``
        on the bucket key — files whose bloom sidecar proves the key
        absent (lake/bloom.py, the point-lookup path min/max cannot
        decide for strings), then applies the same predicate row-level,
        so results always equal ``read().filter(...)``.

        ``columns`` — project to these columns. For plain scans a
        ``.select`` after ``read()`` achieves the same thing (Catalyst
        prunes through the union to the parquet reader), but through
        MOR resolution it does NOT: the max-LSN resolve packs the row
        into a ``max(struct(...))`` aggregate, and Catalyst will not
        prune fields inside an aggregated struct — an unprojected
        resolve scans and SHUFFLES every column of the delta buckets.
        ``columns`` narrows the packed struct to (requested ∪ filter ∪
        merge-key ∪ system) columns before the aggregate, so a 2-column
        projection over a wide transcript table moves 2 columns of
        shuffle, not 40. Results always equal
        ``read().select(columns)``. Pruning applies only to buckets with no
        outstanding MOR deltas: in a delta bucket the last-writer-wins
        resolution must see every version of a key (a filtered-out
        file could hold the winning row), so those buckets resolve
        first and filter after — compaction restores their prunability.

        ``tag`` — read the snapshot a named tag pins (see ``tag()``);
        ``as_of`` — the newest snapshot committed at or before a
        timestamp (``resolve_as_of``). ``version``/``tag``/``as_of``
        are mutually exclusive.

        ``buckets`` are interpreted under ``buckets_layout`` (default:
        this snapshot's current layout) and are CLOSED to whole
        key-space classes when the table holds files under several
        layouts (``evolve_layout`` mid-migration, lake/layout.py) —
        the result is then exactly the rows whose keys hash into the
        closed class; with a single layout this is exactly the rows
        of the requested buckets, as before. ``buckets_layout`` lets
        a cross-version consumer (the change feed) express one bucket
        set against two snapshots whose current layouts differ.
        """
        if sum(x is not None for x in (version, tag, as_of)) > 1:
            raise ValueError("pass at most one of version=, tag=, as_of=")
        if tag is not None:
            version = self.resolve_tag(tag)
        if as_of is not None:
            version = self.resolve_as_of(as_of)
        m = self.manifest(version)
        current = StructType.fromJson(
            __import__("json").loads(m.schemas[m.current_schema_id])
        )
        if filters:
            filters = lake_stats.canonicalize_filters(filters, current)
        if columns is not None:
            names = {f.name for f in current.fields}
            for c in columns:
                if c not in names:
                    raise ValueError(f"column {c!r} not in table schema")
            keys = (m.properties.get("merge_keys") or m.bucket_key).split(",")
            scan_cols = list(
                dict.fromkeys(
                    list(columns)
                    + [c for c, _, _ in (filters or [])]
                    + keys
                )
            )
            current = StructType(
                [f for f in current.fields if f.name in scan_cols]
            )
        sys_fields = [
            StructField(SYS_LSN, LongType(), True),
            StructField(SYS_DELETED, BooleanType(), True),
        ]
        current_sys = StructType(list(current.fields) + sys_fields)
        files = m.files
        if buckets is not None:
            # closed to whole key-space classes first (identity while
            # the table has one layout): after evolve_layout an old
            # coarse file spans several current buckets, and an
            # UNCLOSED selection could include one version of a key
            # while excluding a newer one in a differently-pruned file
            # — closing makes the selection key-exact, so MOR
            # resolution inside it stays sound (lake/layout.py).
            bset, files = lake_layout.close_buckets(
                set(buckets),
                files,
                buckets_layout or m.num_buckets,
            )
        key_vals: list[Any] = []
        if filters:
            key_vals = self._key_eq_values(filters, m)
            kb = self._buckets_for_keys(m, key_vals)
            if kb is not None:
                # a key's rows live in exactly one bucket PER LAYOUT
                # in every version of the file set, so this prunes
                # deltas too — and keeps every file (under any
                # layout) that could hold a version of the key
                files = [
                    f for f in files if kb.get(f.layout) == f.bucket
                ]
        # Merge-on-read resolution: a bucket holding delta files needs
        # its rows collapsed to the max-applied-LSN winner per merge
        # key. Buckets WITHOUT deltas skip the resolution entirely, so
        # the extra shuffle is O(delta-touched buckets), not O(table)
        # — compaction folds deltas back into base to bound it.
        res_files, clean_files = self._mor_partition(files, m)
        if filters:
            clean_files = [
                f
                for f in clean_files
                if lake_stats.file_may_match(f.stats, filters, current)
                and self._bloom_keep(f, key_vals, filters)
            ]
        if not res_files and not clean_files:
            out = self.spark.createDataFrame([], current_sys)
        elif res_files:
            out = self._resolve_mor(
                self._scan_files(res_files, m, current_sys), m, current_sys
            )
            if clean_files:
                out = self._scan_files(clean_files, m, current_sys).unionByName(out)
        else:
            out = self._scan_files(clean_files, m, current_sys)
        if not include_system:
            out = out.filter(
                ~F.coalesce(F.col(SYS_DELETED), F.lit(False))
            ).drop(SYS_LSN, SYS_DELETED)
        if filters:
            out = out.filter(lake_stats.residual_condition(filters))
        if columns is not None:
            out = out.select(
                *columns,
                *([SYS_LSN, SYS_DELETED] if include_system else []),
            )
        return out

    def count_rows(
        self, version: int | None = None, detail: bool = False
    ) -> int | dict[str, Any]:
        """Visible row count, answered from manifest metadata wherever
        PROVABLE and by scanning only the remainder.

        A file contributes ``rows - dv_count`` without being read when
        its footer-derived stats prove it tombstone-free (``_deleted``
        min/max ``[false, false]``) — deletion-vector positions only
        ever mark live rows, so the arithmetic is exact. Files with
        (possible) tombstones, pre-upgrade entries without a recorded
        row count, and buckets with outstanding MOR deltas (the
        max-LSN resolve collapses keys, changing the visible count)
        fall back to one combined scan. Append-only corpora — the
        training-data case where COUNT matters — therefore answer in
        O(manifest) with zero I/O; a freshly compacted CDC table scans
        only buckets whose files still carry tombstones.

        ``detail=True`` returns ``{rows, metadata_files,
        scanned_files}`` so callers (and tests) can see how much was
        proved versus scanned."""
        m = self.manifest(version)
        current = StructType.fromJson(
            __import__("json").loads(m.schemas[m.current_schema_id])
        )
        current_sys = StructType(
            list(current.fields)
            + [
                StructField(SYS_LSN, LongType(), True),
                StructField(SYS_DELETED, BooleanType(), True),
            ]
        )
        delta_files, non_delta = self._mor_partition(list(m.files), m)
        meta_total = 0
        meta_files = 0
        scan_files: list[mf.DataFile] = []
        for f in non_delta:
            if f.rows >= 0 and f.stats.get(SYS_DELETED) == [False, False]:
                meta_total += f.rows - f.dv_count
                meta_files += 1
            else:
                scan_files.append(f)
        scanned = 0
        if scan_files or delta_files:
            parts = []
            if scan_files:
                parts.append(self._scan_files(scan_files, m, current_sys))
            if delta_files:
                parts.append(
                    self._resolve_mor(
                        self._scan_files(delta_files, m, current_sys),
                        m,
                        current_sys,
                    )
                )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            scanned = df.filter(
                ~F.coalesce(F.col(SYS_DELETED), F.lit(False))
            ).count()
        total = meta_total + scanned
        if detail:
            return {
                "rows": total,
                "metadata_files": meta_files,
                "scanned_files": len(scan_files) + len(delta_files),
            }
        return total

    def _scan_files(
        self,
        files: list[mf.DataFile],
        m: mf.Manifest,
        current_sys: StructType,
        with_positions: bool = False,
    ) -> DataFrame:
        """Union the given files, each group read under its writer
        schema and projected/cast to the current schema.

        Files carrying a deletion vector (lake/dv.py) have their
        recorded positions anti-joined out here — EVERY consumer
        (read, MOR resolve, merge, compact, delete, rebucket, diffs)
        funnels through this method, so a DV'd row is gone everywhere
        at once and compaction purges it physically just by rewriting
        what it reads. ``with_positions=True`` keeps the per-row
        ``(_dv_path, _dv_pos)`` identity columns for callers that need
        to WRITE new deletion vectors (delete_where's dv strategy)."""
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(f.schema_id, []).append(
                os.path.join(self.table_dir, f.path)
            )
        dv_dirs = sorted({f.dv for f in files if f.dv})
        need_pos = with_positions or bool(dv_dirs)
        sys_fields = [
            StructField(SYS_LSN, LongType(), True),
            StructField(SYS_DELETED, BooleanType(), True),
        ]
        parts = []
        for sid, paths in by_schema.items():
            writer_schema = StructType.fromJson(
                __import__("json").loads(m.schemas[sid])
            )
            writer_sys = StructType(list(writer_schema.fields) + sys_fields)
            df = self.spark.read.schema(writer_sys).parquet(*paths)
            if need_pos:
                # attach file identity BEFORE the align projection —
                # _metadata only resolves on the file-source relation
                df = df.select(
                    "*",
                    lake_dv.relpath_expr(self.table_dir).alias(
                        lake_dv.FP_COL
                    ),
                    F.col("_metadata.row_index").alias(lake_dv.POS_COL),
                )
            parts.append(
                _align(
                    df,
                    current_sys,
                    keep=(lake_dv.FP_COL, lake_dv.POS_COL)
                    if need_pos
                    else (),
                    src_ids=m.field_ids.get(sid),
                    tgt_ids=m.field_ids.get(m.current_schema_id),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dv_dirs:
            out = lake_dv.anti_join_dv(
                out,
                lake_dv.read_dvs(self.spark, self.table_dir, dv_dirs),
                sum(f.dv_count for f in files if f.dv),
            )
        if need_pos and not with_positions:
            out = out.drop(lake_dv.FP_COL, lake_dv.POS_COL)
        return out

    def _resolve_mor(
        self, df: DataFrame, m: mf.Manifest, current_sys: StructType
    ) -> DataFrame:
        """Collapse base+delta rows to one winner per merge key: the
        row with the highest applied LSN (same commutative last-writer
        -wins the COW gate enforces at write time, deferred to read).
        max(struct) with the LSN leading — one hash aggregate with
        map-side partial agg, no window sort (see cdc/dedup.py for the
        measured rationale). Delete tombstones win like any row and
        are filtered by the caller, so a late lower-LSN update cannot
        resurrect a deleted key."""
        keys = (m.properties.get("merge_keys") or m.bucket_key).split(",")
        others = [c for c in df.columns if c not in keys]
        packed = F.max(
            F.struct(
                F.col(SYS_LSN).alias("_l"),
                *[F.col(c).alias(c) for c in others],
            )
        ).alias("_w")
        return (
            df.groupBy(*keys)
            .agg(packed)
            .select(
                *[
                    F.col(f"_w.{f.name}").alias(f.name)
                    if f.name in others
                    else F.col(f.name)
                    for f in current_sys.fields
                ]
            )
        )

    # ----------------------------------------------------------------- write
    def _write_data(
        self,
        df: DataFrame,
        m: mf.Manifest,
        n_buckets_hint: int | None = None,
        kind: str = "base",
        cluster_by: list[str] | None = None,
        files_per_bucket: int = 1,
        build_blooms: bool = True,
        zorder: bool = False,
    ) -> list[mf.DataFile]:
        """Write df (table columns) bucketed; return new DataFile entries.

        Repartitioned by bucket before the write so each bucket lands as
        one file (otherwise every task writes a sliver into every bucket
        dir — tasks x buckets tiny files, which poisons later reads).
        At 100 TB you raise files-per-bucket by repartitioning on
        (bucket, salt); here one file per bucket is right-sized.

        ``cluster_by`` range-partitions on (bucket, *cluster_by) into
        ~``files_per_bucket`` files per bucket instead: every file then
        covers a TIGHT contiguous range of the cluster columns, so the
        manifest min/max stats can prune time-range reads and retention
        deletes even after compaction folded the original hourly
        append files away (≙ Delta OPTIMIZE ZORDER / Iceberg sort
        order, in its 1-D form — the dominant case for a ts column)."""
        token = mf.new_commit_token()
        out_rel = os.path.join(mf.DATA_DIR, token)
        out_abs = os.path.join(self.table_dir, out_rel)
        if SYS_LSN not in df.columns:
            df = df.withColumn(SYS_LSN, F.lit(-1).cast("long"))
        if SYS_DELETED not in df.columns:
            df = df.withColumn(SYS_DELETED, F.lit(False))
        n_parts = max(1, n_buckets_hint or m.num_buckets)
        df = df.withColumn(BUCKET_COL, self._bucket_expr(m))
        persisted = None
        if cluster_by and zorder:
            # the quantile sketch is an extra action over the input
            # (which may be a MOR resolve) — cache so the write does
            # not recompute it
            persisted = df.persist()
            df = lake_zorder.with_zvalue(
                persisted, cluster_by, self.schema(m.version)
            )
            df = (
                df.repartitionByRange(
                    max(1, n_parts * files_per_bucket),
                    F.col(BUCKET_COL),
                    F.col(lake_zorder.Z_COL),
                )
                .sortWithinPartitions(BUCKET_COL, lake_zorder.Z_COL)
                .drop(lake_zorder.Z_COL)
            )
        elif cluster_by:
            # a range task can straddle a bucket boundary — the
            # dynamic-partition writer still splits it per bucket dir,
            # so files-per-bucket stays ~files_per_bucket on average
            df = df.repartitionByRange(
                max(1, n_parts * files_per_bucket),
                F.col(BUCKET_COL),
                *[F.col(c) for c in cluster_by],
            ).sortWithinPartitions(BUCKET_COL, *cluster_by)
        else:
            # sorted within partition → the dynamic-partition writer
            # streams one bucket file at a time instead of holding an
            # open writer per bucket value it encounters
            df = df.repartition(n_parts, F.col(BUCKET_COL)).sortWithinPartitions(
                BUCKET_COL
            )
        df.write.partitionBy(BUCKET_COL).parquet(out_abs, mode="errorifexists")
        new_files: list[mf.DataFile] = []
        writer_schema = StructType.fromJson(
            __import__("json").loads(m.schemas[m.current_schema_id])
        )
        # stats over the PHYSICAL schema: system columns give each file
        # its LSN span and a tombstone-free proof (_deleted [false,
        # false]) — what count_rows() answers from metadata with
        writer_phys = StructType(
            list(writer_schema.fields)
            + [
                StructField(SYS_LSN, LongType(), True),
                StructField(SYS_DELETED, BooleanType(), True),
            ]
        )
        if os.path.isdir(out_abs):
            for entry in os.listdir(out_abs):
                if not entry.startswith(f"{BUCKET_COL}="):
                    continue
                bucket = int(entry.split("=", 1)[1])
                bdir = os.path.join(out_abs, entry)
                for fn in os.listdir(bdir):
                    if fn.endswith(".parquet"):
                        fabs = os.path.join(bdir, fn)
                        # footer-only metadata read, O(new files per
                        # commit) — see lake/stats.py. Key blooms
                        # (lake/bloom.py) re-read ONE thin column and
                        # hash it driver-side, so they are built only
                        # for MAINTENANCE/base writes (append, compact,
                        # delete, rebucket) — the long-lived files
                        # point lookups actually prune — and never on
                        # the per-micro-batch merge hot path, where the
                        # output is rewritten next batch anyway and the
                        # hashing would tax every commit. Compaction
                        # therefore also "blooms" a table whose files
                        # were all merge-written.
                        fstats, frows = lake_stats.collect_file_meta(
                            fabs, writer_phys
                        )
                        new_files.append(
                            mf.DataFile(
                                path=os.path.join(out_rel, entry, fn),
                                bucket=bucket,
                                schema_id=m.current_schema_id,
                                kind=kind,
                                stats=fstats,
                                bloom=build_blooms
                                and lake_bloom.write_for_file(
                                    fabs, m.bucket_key
                                ),
                                rows=frows,
                                # bucket ids came from _bucket_expr(m)
                                layout=m.num_buckets,
                            )
                        )
        if persisted is not None:
            persisted.unpersist()
        return new_files

    def _transact(
        self,
        attempt: Callable[[mf.Manifest], _T],
        base: mf.Manifest | None = None,
    ) -> _T:
        """Run ``attempt(head)`` under optimistic concurrency — the one
        recompute loop every mutating operation shares (≙ Iceberg's
        ``Transaction`` / Delta's ``OptimisticTransaction``).

        ``attempt`` derives everything from the manifest it is handed,
        computes, and commits through ``_commit_delta`` (which rebases
        what it safely can) or ``_commit_next``. A ``CommitConflict``
        escaping it means the work itself is stale: back off, re-read
        the head and run it again, up to ``MAX_COMMIT_RETRIES`` times;
        the last attempt's conflict reaches the caller. ``base`` serves
        the first attempt when the caller already holds the head."""
        for n in range(MAX_COMMIT_RETRIES):
            head = base if n == 0 and base is not None else self.manifest()
            try:
                return attempt(head)
            except CommitConflict:
                # files the lost attempt wrote stay unreferenced —
                # vacuum_orphans / expire clear them
                _conflict_backoff(n)
        return attempt(self.manifest())

    def _commit_next(
        self,
        base: mf.Manifest,
        files: list[mf.DataFile],
        summary: dict[str, Any],
        template: mf.Manifest | None = None,
        **changes: Any,
    ) -> mf.Manifest:
        """Publish ``base``'s successor holding ``files`` — the only
        builder of a successor manifest. Table metadata (schemas,
        layout, properties, field ids) carries over from ``template``
        (default ``base``; rollback and publish adopt another
        snapshot's), with ``changes`` overriding single fields
        (``num_buckets=``, ``properties=``, ...). Raises CommitConflict
        when another writer took the version first."""
        nxt = dataclasses.replace(
            template or base,
            version=base.version + 1,
            parent=base.version,
            files=files,
            summary=summary,
            committed_at=None,
            segment_names={},
            **changes,
        )
        try:
            mf.commit_manifest(self.meta_dir, nxt, base=base)
        except FileExistsError as e:  # lost the race
            raise CommitConflict(
                f"version {nxt.version} already committed at {self.meta_dir}"
            ) from e
        return nxt

    def _rebucket_between(self, from_version: int, head: mf.Manifest) -> bool:
        """Did any commit in (from_version, head] physically rewrite
        the layout (``rebucket``)? Distinguishes it from metadata-only
        ``evolve_layout`` when both sides changed ``num_buckets`` —
        root-only walk; a broken chain conservatively counts as a
        rebucket (abort and recompute, never rebase blind)."""
        v = head.version
        while v > from_version:
            try:
                root = self._read_root(v)
            except FileNotFoundError:
                return True
            if root.get("summary", {}).get("operation") == "rebucket":
                return True
            parent = root.get("parent")
            if parent is None or parent >= v:
                return True
            v = parent
        return False

    def _data_changed_in(
        self, read_from: mf.Manifest, head: mf.Manifest, buckets: set[int]
    ) -> bool:
        """Did any commit in (read_from, head] CHANGE DATA in ``buckets``?

        Walks the parent chain classifying each intervening commit:
        ``compact`` and ``evolve_schema`` are content-preserving
        (layout/metadata only — a bucket's ROWS are identical before
        and after), so they never count; a ``merge`` counts iff its
        recorded affected_buckets intersect; anything else (append,
        overwrite, unknown) counts iff its file-level diff against its
        parent touches ``buckets``. A broken chain (expired manifest
        mid-race) conservatively counts as changed."""
        n_ours = read_from.num_buckets
        v = head
        while v.version > read_from.version:
            op = v.summary.get("operation")
            if op in (
                "compact",
                "evolve_schema",
                "rename_column",
                "drop_column",
                "evolve_layout",
            ):
                # content-preserving: a bucket's ROWS are identical
                # before and after (rename/drop are by-id metadata;
                # evolve_layout moves no bytes at all; the bytes in
                # files do not move)
                pass
            elif op == "merge" and "affected_buckets" in v.summary:
                # their set may be recorded under a different layout
                # (an evolve_layout between the two commits) — two
                # sets collide iff some key can live in both
                # (residue intersection, lake/layout.py)
                if lake_layout.bucket_sets_intersect(
                    n_ours,
                    buckets,
                    int(v.summary.get("affected_layout", v.num_buckets)),
                    v.summary["affected_buckets"],
                ):
                    return True
            else:
                try:
                    parent = self.manifest(v.version - 1)
                except FileNotFoundError:
                    return True
                # identity is (path, dv): a deletion-vector update
                # keeps the path but CHANGES the file's live rows, so
                # it must count as a data change (a path-only diff
                # would let a replacement rebase resurrect DV-deleted
                # rows)
                ppaths = {(f.path, f.dv) for f in parent.files}
                vpaths = {(f.path, f.dv) for f in v.files}
                diff = [
                    f for f in v.files if (f.path, f.dv) not in ppaths
                ] + [
                    f for f in parent.files if (f.path, f.dv) not in vpaths
                ]
                if lake_layout.files_overlapping(diff, buckets, n_ours):
                    return True
            if v.version - 1 == read_from.version:
                break
            try:
                v = self.manifest(v.version - 1)
            except FileNotFoundError:
                return True
        return False

    def _commit_delta(
        self,
        read_from: mf.Manifest,
        removed_paths: set[str],
        added: list[mf.DataFile],
        summary: dict[str, Any],
        prop_updates: dict[str, str] | None = None,
        affected_buckets: set[int] | None = None,
        surgical: bool = False,
    ) -> mf.Manifest:
        """Commit a file-level delta with optimistic rebase.

        Three modes:

        - ADDITIVE (``affected_buckets is None``): ``removed_paths``
          must be empty; the commit only adds files (append, MOR delta
          merge). Always rebasable — re-pointed at ``head.files +
          added``. Read-time LSN resolution makes concurrent rows in
          the same bucket commutative, so no safety condition is
          needed.
        - REPLACEMENT (a bucket set, ``surgical=False``): the operation
          computed a FULL replacement of those buckets' content from
          ``read_from``'s view (COW merge, compact). Rebase re-points
          the commit at ``[f for f in head.files if f.bucket not in
          affected] + added`` — valid iff no intervening commit CHANGED
          DATA in the affected buckets (``_data_changed_in``).
          Concurrent compactions are content-preserving and thus never
          block the rebase — the key property that lets a scheduled
          OPTIMIZE run alongside a COW ingest without livelocking
          either side.
        - SURGICAL (a bucket set, ``surgical=True``): the operation
          rewrote exactly ``removed_paths`` (a subset of some buckets'
          files — ``delete_where``'s stats-pruned rewrite). Rebase
          keeps every head file except ``removed_paths`` and adds the
          rewrites — valid iff every removed path is STILL PRESENT at
          head: an intervening commit that rewrote or dropped one of
          them (compact folding it away, a COW merge replacing the
          bucket) means our survivors were computed from content the
          head no longer references, so the caller must recompute.
          Commits that merely ADD files to the same buckets (appends,
          MOR deltas) serialize AFTER the surgical commit — every row
          is still accounted for exactly once.

        Rebase keeps the head's schemas/current_schema_id (schema ids
        are append-only, so our files' writer-schema tags stay valid)
        and re-applies ``prop_updates`` on top of the head's
        properties, failing loudly on a merge-key disagreement.
        Unsafe → raises CommitConflict, which the operation's
        ``_transact`` turns into a recompute from the new head. So
        append, MOR merge, ``delete_where`` and ``build_blooms`` rebase
        unless a guard below fires; COW merge, ``merge_into`` and
        ``compact`` rebase only while their buckets' data is unchanged
        and recompute otherwise. ≙ Iceberg's optimistic concurrency
        (validate + retry), the engine analogue of the reference's
        activity retry (FnOrchestrator.kt:182-192).
        """
        base = read_from
        for _ in range(MAX_COMMIT_REBASES + 1):
            props = dict(base.properties)
            for k, v in (prop_updates or {}).items():
                if k in props and props[k] != v:
                    raise ValueError(
                        f"property conflict on {k!r}: "
                        f"table has {props[k]!r}, commit wants {v!r}"
                    )
                props[k] = v
            if affected_buckets is None or surgical:
                files = [f for f in base.files if f.path not in removed_paths]
            else:
                # per-file-layout overlap, not raw id equality: after
                # evolve_layout the replaced key-space can span files
                # under several layouts (read_from's closure included
                # them all, so they must all drop here)
                drop = {
                    id(f)
                    for f in lake_layout.files_overlapping(
                        base.files,
                        affected_buckets,
                        read_from.num_buckets,
                    )
                }
                files = [f for f in base.files if id(f) not in drop]
            files = files + added
            try:
                return self._commit_next(base, files, summary, properties=props)
            except CommitConflict:
                head = self.manifest()
                if head.bucket_key != read_from.bucket_key:
                    raise CommitConflict(
                        "bucket key changed under this commit "
                        "— recompute from the new head"
                    ) from None
                if head.num_buckets != read_from.num_buckets and (
                    self._rebucket_between(read_from.version, head)
                ):
                    # a concurrent rebucket() REWROTE the table under a
                    # new layout: our files' content was computed from
                    # a file set that no longer exists. (A concurrent
                    # evolve_layout() is fine — it moves no data, and
                    # our files self-describe their layout, so the
                    # rebase below stays sound.)
                    raise CommitConflict(
                        "bucket layout changed by a concurrent rebucket "
                        "— recompute from the new head"
                    ) from None
                if any(f.schema_id not in head.schemas for f in added):
                    # schema ids are normally append-only, but a
                    # concurrent rollback() can restore a NARROWER
                    # schemas map — rebasing files tagged with an id
                    # the head no longer defines would corrupt the
                    # manifest (reads KeyError on schemas[id]).
                    raise CommitConflict(
                        "schema lineage rewound by a concurrent rollback "
                        "— recompute from the new head"
                    ) from None
                if surgical:
                    live = {f.path: f.dv for f in head.files}
                    base_dv = {f.path: f.dv for f in read_from.files}
                    if not removed_paths <= set(live):
                        raise CommitConflict(
                            "rebase unsafe: a concurrent commit rewrote a "
                            "file this operation was deleting from — "
                            "recompute from the new head"
                        ) from None
                    if any(
                        live[p] != base_dv.get(p) for p in removed_paths
                    ):
                        # the path survived but its deletion vector
                        # moved: our output was computed from the OLD
                        # vector, so rebasing would drop the
                        # concurrent delete's positions
                        raise CommitConflict(
                            "rebase unsafe: a concurrent commit updated a "
                            "deletion vector this operation read — "
                            "recompute from the new head"
                        ) from None
                elif affected_buckets is not None and self._data_changed_in(
                    read_from, head, affected_buckets
                ):
                    raise CommitConflict(
                        "rebase unsafe: a concurrent commit changed data in "
                        "a bucket this operation rewrote — recompute from "
                        "the new head"
                    ) from None
                base = head
        raise CommitConflict(f"gave up after {MAX_COMMIT_REBASES} rebases")

    def append(self, df: DataFrame, summary: dict[str, Any] | None = None) -> None:
        def attempt(m: mf.Manifest) -> None:
            src = _align(df, self.schema(m.version))
            self._check_constraints_job(src, m, f"append to {self.table_dir}")
            new_files = self._write_data(src, m)
            # purely additive: always rebasable — the only conflict
            # that surfaces here is a concurrent rebucket, which
            # invalidates our files' bucket ids → rewrite under the
            # new layout (losers become orphans; vacuum_orphans GC)
            self._commit_delta(
                m, set(), new_files, {"operation": "append", **(summary or {})}
            )

        self._transact(attempt)

    def overwrite(self, df: DataFrame, summary: dict[str, Any] | None = None) -> None:
        m = self.manifest()
        current = self.schema()
        src = _align(df, current)
        self._check_constraints_job(src, m, f"overwrite of {self.table_dir}")
        new_files = self._write_data(src, m)
        info = {"operation": "overwrite", **(summary or {})}

        def attempt(base: mf.Manifest) -> None:
            nonlocal m, new_files
            if base.num_buckets != m.num_buckets:
                # a concurrent rebucket() won the race: our files carry
                # bucket ids from the OLD layout — committing them under
                # the new one would silently break bucket pruning and
                # future merges. Rewrite under the winner's layout (the
                # old files become orphans; vacuum_orphans GC). Align to
                # BASE's schema — _write_data tags the files with
                # base.current_schema_id, and a concurrent evolve_schema
                # racing this retry must not widen the physical columns
                # past the tagged writer schema.
                new_files = self._write_data(
                    _align(df, self.schema(base.version)), base
                )
                m = base
            # overwrite does not depend on prior content — clobber
            # whatever head it lands on (snapshot-replace semantics)
            self._commit_next(base, new_files, info)

        self._transact(attempt, base=m)

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        changes: DataFrame,
        key_cols: list[str],
        op_col: str = "op",
        delete_value: str = "D",
        summary: dict[str, Any] | None = None,
        broadcast_threshold: int = 2_000_000,
        bucket_stats: dict[int, int] | None = None,
        lsn_col: str | None = "lsn",
        strategy: str = "cow",
        bucket_stats_layout: int | None = None,
    ) -> dict[str, Any]:
        """MERGE — copy-on-write (default) or merge-on-read.

        ``changes`` must be pre-deduplicated (exactly one row per key —
        see dexspark.cdc.dedup) and contain ``op_col`` plus every current
        table column. Semantics per key:

        - op == delete_value → row removed if present (no-op if absent)
        - any other op       → upsert (insert or full-row replace)

        When ``lsn_col`` names a column present in ``changes``, the
        merge is CONDITIONAL: a change only wins against an existing row
        if its LSN is strictly higher than the row's ``_applied_lsn``.
        That makes replay commutative across batches — out-of-order
        segment discovery or a redelivered old batch can never clobber
        newer data (the north rule's out-of-order requirement). Without
        it, last-write-wins by arrival order.

        ``strategy="cow"``: affected buckets are read and rewritten in
        full; reads stay cheap (no resolve), writes pay O(bucket) per
        touched bucket. Only buckets containing at least one change key
        are read or rewritten; all other data files carry over into the
        new snapshot untouched.

        ``strategy="mor"``: the (deduped) change set is written as
        per-bucket DELTA files and the commit is O(batch) — no target
        read, no rewrite. Conflict resolution moves to read time: the
        max-applied-LSN row per key wins (identical final state to the
        COW gate, including tombstone protection). This is the shape
        for high-frequency micro-batches at 10^10 events, where COW's
        write amplification (a 1000-row batch rewriting 64 buckets of
        a 100 TB table) dominates; ``compact()`` folds deltas back to
        base to bound the read-time resolve. Requires unique LSNs per
        key (the CDC contract) and records the merge key in the
        manifest so reads can resolve. Mixing keyed MOR merges with
        un-keyed ``append`` on the same table is unsupported.
        """
        if strategy not in ("cow", "mor"):
            raise ValueError(f"unknown merge strategy: {strategy!r}")
        m0 = self.manifest()
        # caller-supplied bucket_stats were computed under the layout
        # the CALLER saw; if a rebucket() landed between the caller's
        # manifest read and ours, those bucket ids are stale in a way
        # the per-attempt drift guard (which compares against m0) can
        # never see — discard them and recompute under m0
        if (
            bucket_stats is not None
            and bucket_stats_layout is not None
            and bucket_stats_layout != m0.num_buckets
        ):
            bucket_stats = None
            # the caller's per-bucket lineage carries old-layout ids —
            # committing it verbatim would mix two layouts in the
            # metrics table
            summary = _drop_stale_partitions(summary)
        own_persist = bucket_stats is None
        # bucket_key is immutable table identity; num_buckets can move
        # under us via rebucket() — each attempt below re-derives the
        # bucket column and affected-bucket map on layout drift
        changes = changes.withColumn(BUCKET_COL, self._bucket_expr(m0))
        if own_persist:
            changes = changes.persist()
        persisted = changes  # `changes` may be re-projected on layout drift

        # "fail"-mode CHECK constraints ride the per-bucket stats pass
        # below — zero extra jobs on the hot path. Callers that supply
        # precomputed bucket_stats (the CDC apply pipeline) enforce
        # upstream inside their own validation pass instead.
        fail_defs = self._fail_constraint_defs(m0)
        viol_aggs = (
            lake_ct.violation_count_aggs(
                fail_defs, skip=(F.col(op_col) == F.lit(delete_value))
            )
            if fail_defs
            else []
        )

        def _stats_pass(df: DataFrame) -> dict[int, int]:
            rows = (
                df.groupBy(BUCKET_COL)
                .agg(F.count(F.lit(1)).alias("count"), *viol_aggs)
                .collect()
            )
            if viol_aggs:
                lake_ct.raise_if_violated(
                    {
                        n: sum(int(r["_cviol_" + n] or 0) for r in rows)
                        for n in fail_defs
                    },
                    f"merge into {self.table_dir}",
                )
            return {int(r[BUCKET_COL]): int(r["count"]) for r in rows}

        try:
            if bucket_stats is None:
                # one job: affected buckets + batch size (+ constraint
                # enforcement when CHECK constraints are declared)
                bucket_stats = _stats_pass(changes)
            affected = set(bucket_stats)
            n_changes = int(sum(bucket_stats.values()))
            batch_id = (summary or {}).get("batch_id")
            cur_layout = m0.num_buckets

            def attempt(m: mf.Manifest) -> dict[str, Any]:
                nonlocal changes, affected, cur_layout, summary
                if m.num_buckets != cur_layout:
                    # a concurrent rebucket() landed mid-merge: the
                    # change set's bucket column and the affected-bucket
                    # map were computed under the OLD layout — recompute
                    # both against the new one (the persisted change
                    # rows themselves are layout-independent)
                    changes = changes.withColumn(
                        BUCKET_COL, self._bucket_expr(m)
                    )
                    affected = set(_stats_pass(changes))
                    cur_layout = m.num_buckets
                    summary = _drop_stale_partitions(summary)
                if m is not m0 and batch_id is not None and (
                    batch_id in self.committed_batch_ids()
                ):
                    # a retry: a concurrent writer landed this very
                    # batch while we were losing the race — exactly-once
                    # holds
                    return {
                        "operation": "merge",
                        "skipped": True,
                        "reason": "already_committed",
                        "batch_id": batch_id,
                    }
                return self._merge_attempt(
                    m, changes, key_cols, op_col, delete_value,
                    summary, broadcast_threshold, lsn_col, strategy,
                    affected, n_changes,
                )

            return self._transact(attempt, base=m0)
        finally:
            if own_persist:
                persisted.unpersist()

    def _merge_attempt(
        self,
        m: mf.Manifest,
        changes: DataFrame,
        key_cols: list[str],
        op_col: str,
        delete_value: str,
        summary: dict[str, Any] | None,
        broadcast_threshold: int,
        lsn_col: str | None,
        strategy: str,
        affected: set[int],
        n_changes: int,
    ) -> dict[str, Any]:
        """One merge computation + commit against manifest ``m``.

        Raises CommitConflict when the commit loses the version race
        AND cannot be rebased (see _commit_delta) — the caller
        recomputes from the fresh head."""
        current = StructType.fromJson(
            __import__("json").loads(m.schemas[m.current_schema_id])
        )
        if n_changes == 0:
            # nothing to do — still commit the (empty) summary so the
            # batch ledger records it and replay stays idempotent
            info = {
                "operation": "merge",
                "affected_buckets": [],
                "change_rows": 0,
                **(summary or {}),
            }
            self._commit_delta(m, set(), [], info)
            return info

        current_sys = StructType(
            list(current.fields)
            + [
                StructField(SYS_LSN, LongType(), True),
                StructField(SYS_DELETED, BooleanType(), True),
            ]
        )
        conditional = lsn_col is not None and lsn_col in changes.columns

        if strategy == "mor":
            if not conditional:
                raise ValueError(
                    "merge strategy 'mor' requires an LSN column: "
                    "read-time resolution orders rows by applied LSN"
                )
            # blind delta write: O(batch) I/O, no target scan. The
            # read-time resolve needs the merge key — record it in
            # the manifest on first use (immutable thereafter).
            declared = m.properties.get("merge_keys", ",".join(key_cols))
            if declared != ",".join(key_cols):
                raise ValueError(
                    f"merge key mismatch: table uses {declared!r}"
                )
            delta = changes.withColumn(
                SYS_LSN, F.col(lsn_col).cast("long")
            ).withColumn(SYS_DELETED, F.col(op_col) == F.lit(delete_value))
            new_files = self._write_data(
                _align(delta, current_sys), m,
                n_buckets_hint=len(affected), kind="delta",
                build_blooms=False,  # hot path; compaction blooms later
            )
            info = {
                "operation": "merge",
                "strategy": "mor",
                "affected_buckets": sorted(affected),
                "affected_layout": m.num_buckets,
                "change_rows": n_changes,
                **(summary or {}),
            }
            # additive (delta files only): rebases over any concurrent
            # commit — LSN resolution at read time makes bucket overlap
            # with a concurrent writer commutative
            self._commit_delta(
                m, set(), new_files, info,
                prop_updates={"merge_keys": declared},
            )
            return info

        # closure-expand the touched buckets (identity while the table
        # has one layout): after evolve_layout, a change hitting a new
        # bucket must also rewrite the old-layout files sharing its
        # key-space — the rewrite re-emits their rows under the
        # CURRENT layout, which is exactly the incremental migration
        # story: every COW merge moves the groups it touches forward.
        affected, members = lake_layout.close_buckets(
            affected, m.files, m.num_buckets
        )
        removed = {f.path for f in members}
        target = self.read(version=m.version, buckets=affected, include_system=True)
        if conditional:
            # per-key LSN gate: column-pruned scan of (keys, _lsn)
            # from the affected buckets joins against the (small)
            # change set; losers drop out before any rewrite.
            # Tombstoned rows participate — a late old update loses
            # against the tombstone's delete LSN.
            t_lsn = target.select(
                *key_cols, F.col(SYS_LSN).alias("_t_lsn")
            )
            winners = (
                changes.join(t_lsn, on=key_cols, how="left")
                .filter(
                    F.col("_t_lsn").isNull()
                    | (F.col(lsn_col) > F.col("_t_lsn"))
                )
                .drop("_t_lsn")
            )
            upsert_src = winners.withColumn(
                SYS_LSN, F.col(lsn_col).cast("long")
            )
        else:
            upsert_src = changes

        upsert_src = upsert_src.withColumn(
            SYS_DELETED, F.col(op_col) == F.lit(delete_value)
        )
        keys = upsert_src.select(*key_cols)
        if n_changes <= broadcast_threshold:
            keys = F.broadcast(keys)
        survivors = target.join(keys, on=key_cols, how="left_anti")

        # deletes become tombstones (conditional path) or drop the
        # row physically (unconditional legacy path)
        if not conditional:
            upsert_src = upsert_src.filter(~F.col(SYS_DELETED))
        upserts = _align(upsert_src, current_sys)
        new_data = _align(survivors, current_sys).unionByName(upserts)

        new_files = self._write_data(
            new_data, m, n_buckets_hint=len(affected),
            build_blooms=False,  # hot path; compaction blooms later
        )
        info = {
            "operation": "merge",
            "affected_buckets": sorted(affected),
            "affected_layout": m.num_buckets,
            "change_rows": n_changes,
            **(summary or {}),
        }
        # content-dependent rewrite: rebasable only while the affected
        # buckets stay untouched by concurrent commits. merge_keys is
        # recorded for COW too (conditional merges only, where the key
        # is a real row identity) so downstream consumers — the
        # change-feed mirror's key default — can recover it.
        props = (
            {"merge_keys": m.properties.get("merge_keys", ",".join(key_cols))}
            if conditional
            else None
        )
        if props and props["merge_keys"] != ",".join(key_cols):
            raise ValueError(
                f"merge key mismatch: table uses {props['merge_keys']!r}"
            )
        self._commit_delta(
            m, removed, new_files, info,
            prop_updates=props, affected_buckets=affected,
        )
        return info

    def merge_into(
        self,
        source: DataFrame,
        key_cols: list[str],
        when_matched: list = (),
        when_not_matched: list = (),
        when_not_matched_by_source: list = (),
        lsn: int = 0,
        summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """General ANSI MERGE INTO: ordered conditional clauses
        (WHEN MATCHED UPDATE/DELETE, WHEN NOT MATCHED INSERT, WHEN NOT
        MATCHED BY SOURCE UPDATE/DELETE) with SQL expressions over the
        ``t``/``s`` aliases — the user-facing statement next to the
        CDC hot path ``merge()``. See lake/merge_into.py."""
        from dexspark.lake.merge_into import merge_into as _mi

        return _mi(
            self, source, key_cols,
            when_matched=when_matched,
            when_not_matched=when_not_matched,
            when_not_matched_by_source=when_not_matched_by_source,
            lsn=lsn, summary=summary,
        )

    # ---------------------------------------------------------------- delete
    def delete_where(
        self,
        filters: list[tuple[str, str, Any]],
        summary: dict[str, Any] | None = None,
        strategy: str = "copy",
    ) -> dict[str, Any]:
        """Predicate DELETE — the retention / right-to-be-forgotten
        surface (``DELETE FROM t WHERE ts < cutoff``). Same filter
        grammar as ``read(filters=...)``: a conjunction of
        ``(column, op, value)`` with op in ``=, <, <=, >, >=``
        (null-rejecting — rows where the predicate is NULL survive).

        Scale shape (≙ Delta/Iceberg DELETE): manifest min/max stats
        first PRUNE to the files that may hold a match, and only those
        files are rewritten without their matching rows — a retention
        sweep of one day out of three years rewrites one day's files,
        never the table. Buckets with outstanding MOR deltas cannot be
        pruned file-by-file (the max-LSN resolve must see every version
        of a key), so a matching delta bucket is resolved and folded to
        base as part of the delete (a bucket-scoped compaction).

        Only LIVE rows are deleted: delete tombstones (flagged rows)
        are kept even when their payload matches, so a late lower-LSN
        redelivery still cannot resurrect a key that was CDC-deleted.
        The rows removed here are removed PHYSICALLY — a genuinely new
        out-of-order change with a lower LSN for a purged key would
        reinsert it, so retention cutoffs must trail the upstream
        log's out-of-order discovery horizon (redelivered *batches*
        are already no-ops via the batch-id ledger).

        Commits surgically (only the rewritten paths swap; untouched
        files — including other files of the same bucket — carry over
        byte-identical) with optimistic retry: concurrent appends/MOR
        merges rebase (they serialize after the delete), a concurrent
        rewrite of a candidate file forces a recompute from the new
        head. No-match deletes return ``skipped`` without committing.

        ``strategy="dv"`` writes DELETION VECTORS instead of rewriting
        files (lake/dv.py, ≙ Delta deletion vectors / Iceberg
        positional deletes): matched rows' (file, position) pairs land
        in a per-commit sidecar directory and the affected manifest
        entries point at it — commit I/O is O(matched rows), not
        O(candidate-file bytes), so a small delete against huge
        well-clustered files stops paying a full rewrite. Reads apply
        the vector everywhere (``_scan_files``); the payload bytes are
        purged physically at the next ``compact()`` of the bucket
        (DV'd buckets always compact), which is the rewrite this
        strategy defers. Buckets with outstanding MOR deltas cannot
        take a positional delete safely (deleting the winning version
        would resurrect an older one), so their matches fold to base
        exactly as in copy mode — one commit covers both. RTBF note:
        a DV hides rows immediately but the bytes remain until
        compaction; run ``compact()`` to complete physical erasure.
        """
        if not filters:
            raise ValueError(
                "delete_where requires at least one filter; to clear a "
                "table, overwrite() with an empty frame"
            )
        if strategy not in ("copy", "dv"):
            raise ValueError(f"unknown delete strategy {strategy!r}")

        def attempt(m: mf.Manifest) -> dict[str, Any]:
            nonlocal filters
            current = self.schema(m.version)
            filters = lake_stats.canonicalize_filters(filters, current)
            current_sys = StructType(
                list(current.fields)
                + [
                    StructField(SYS_LSN, LongType(), True),
                    StructField(SYS_DELETED, BooleanType(), True),
                ]
            )
            key_vals = self._key_eq_values(filters, m)
            kb = self._buckets_for_keys(m, key_vals)
            scoped = (
                m.files
                if kb is None
                else [f for f in m.files if kb.get(f.layout) == f.bucket]
            )
            # delta fold units: per connected key-space class (one
            # class per delta bucket in the single-layout case; after
            # evolve_layout a class spans every file — any layout —
            # sharing keys with the delta, because the fold rewrites
            # ALL versions of its keys or none, lake/layout.py). The
            # class is included when ANY of its scoped files may
            # match — no version of any key matches otherwise.
            n_cur = m.num_buckets
            scoped_match_ids = {
                id(f)
                for f in scoped
                if lake_stats.file_may_match(f.stats, filters, current)
                and self._bloom_keep(f, key_vals, filters)
            }
            fold_ids: set[int] = set()
            cand_delta: set[int] = set()
            delta_files: list[mf.DataFile] = []
            seen_groups: set[lake_layout.Group] = set()
            for k in sorted(
                {(f.layout, f.bucket) for f in scoped if f.kind == "delta"}
            ):
                if k in seen_groups:
                    continue
                g = math.gcd(k[0], n_cur)
                s_k, mem_k = lake_layout.close_buckets(
                    set(range(k[1] % g, n_cur, g)), m.files, n_cur
                )
                seen_groups |= {(f.layout, f.bucket) for f in mem_k}
                if any(id(f) in scoped_match_ids for f in mem_k):
                    cand_delta |= s_k
                    delta_files.extend(mem_k)
                    fold_ids |= {id(f) for f in mem_k}
            # file-level pruning for clean (non-fold) files
            cand_files = [
                f
                for f in scoped
                if id(f) not in fold_ids
                and f.kind != "delta"
                and id(f) in scoped_match_ids
            ]
            if not cand_files and not cand_delta:
                return {
                    "operation": "delete",
                    "affected_buckets": [],
                    "matched_rows": 0,
                    "skipped": True,
                    **(summary or {}),
                }
            if strategy == "dv":
                return self._delete_dv_attempt(
                    m,
                    current_sys,
                    filters,
                    cand_files,
                    cand_delta,
                    delta_files,
                    summary,
                )
            parts = []
            if cand_files:
                parts.append(self._scan_files(cand_files, m, current_sys))
            if cand_delta:
                parts.append(
                    self._resolve_mor(
                        self._scan_files(delta_files, m, current_sys),
                        m,
                        current_sys,
                    )
                )
            data = parts[0]
            for p in parts[1:]:
                data = data.unionByName(p)
            # live rows only; NULL predicate → survive (coalesce)
            doomed = F.coalesce(
                lake_stats.residual_condition(filters)
                & ~F.coalesce(F.col(SYS_DELETED), F.lit(False)),
                F.lit(False),
            )
            data = data.persist()
            try:
                matched = data.filter(doomed).count()
                if matched == 0:
                    # stats said "maybe", rows said no — nothing to
                    # rewrite, nothing to commit
                    return {
                        "operation": "delete",
                        "affected_buckets": [],
                        "matched_rows": 0,
                        "skipped": True,
                        **(summary or {}),
                    }
                affected = {f.bucket for f in cand_files} | cand_delta
                removed = {f.path for f in cand_files} | {
                    f.path for f in delta_files
                }
                new_files = self._write_data(
                    data.filter(~doomed), m, n_buckets_hint=len(affected)
                )
            finally:
                data.unpersist()
            info = {
                "operation": "delete",
                "filters": [
                    [c, op, str(lake_stats._encode(v))] for c, op, v in filters
                ],
                "affected_buckets": sorted(affected),
                "matched_rows": int(matched),
                "files_rewritten": len(removed),
                "files_kept": len(m.files) - len(removed),
                **(summary or {}),
            }
            self._commit_delta(
                m,
                removed,
                new_files,
                info,
                affected_buckets=affected,
                surgical=True,
            )
            return info

        return self._transact(attempt)

    def _delete_dv_attempt(
        self,
        m: mf.Manifest,
        current_sys: StructType,
        filters: list[tuple[str, str, Any]],
        cand_files: list[mf.DataFile],
        cand_delta: set[int],
        delta_files: list[mf.DataFile],
        summary: dict[str, Any] | None,
    ) -> dict[str, Any]:
        """One deletion-vector delete attempt against manifest ``m``.

        Clean-bucket matches become (path, pos) rows in a new DV
        directory; MOR-delta-bucket matches fold to base (the same
        rewrite copy mode does — positional deletes against unresolved
        version stacks are unsafe). Raises CommitConflict for the
        caller's ``_transact``."""
        doomed = F.coalesce(
            lake_stats.residual_condition(filters)
            & ~F.coalesce(F.col(SYS_DELETED), F.lit(False)),
            F.lit(False),
        )
        positions = None
        if cand_files:
            scanned = self._scan_files(
                cand_files, m, current_sys, with_positions=True
            )
            positions = (
                scanned.filter(doomed)
                .select(
                    F.col(lake_dv.FP_COL).alias("path"),
                    F.col(lake_dv.POS_COL).alias("pos"),
                )
                .persist()
            )
        try:
            new_by_path: dict[str, int] = {}
            if positions is not None:
                new_by_path = {
                    r["path"]: int(r["n"])
                    for r in positions.groupBy("path")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            folded: DataFrame | None = None
            matched_delta = 0
            if cand_delta:
                resolved = self._resolve_mor(
                    self._scan_files(delta_files, m, current_sys),
                    m,
                    current_sys,
                ).persist()
                try:
                    matched_delta = resolved.filter(doomed).count()
                    if matched_delta:
                        folded = resolved.filter(~doomed)
                        folded_files = self._write_data(
                            folded, m, n_buckets_hint=len(cand_delta)
                        )
                    else:
                        folded_files = []
                finally:
                    if not matched_delta:
                        resolved.unpersist()
            else:
                folded_files = []
            matched = sum(new_by_path.values()) + matched_delta
            if matched == 0:
                return {
                    "operation": "delete",
                    "strategy": "dv",
                    "affected_buckets": [],
                    "matched_rows": 0,
                    "skipped": True,
                    **(summary or {}),
                }
            upd_entries: list[mf.DataFile] = []
            removed: set[str] = set()
            affected: set[int] = set()
            if new_by_path:
                token = mf.new_commit_token()
                by_path = {f.path: f for f in cand_files}
                upd = [by_path[p] for p in new_by_path]
                # the new directory carries each updated file's FULL
                # position set: prior vectors for these files fold in,
                # so one referenced directory per file is complete and
                # old manifests keep reading the old directories
                all_pos = positions
                prior_dirs = {f.dv for f in upd if f.dv}
                if prior_dirs:
                    old_rows = lake_dv.read_dvs(
                        self.spark, self.table_dir, prior_dirs
                    ).filter(F.col("path").isin(list(new_by_path)))
                    all_pos = all_pos.unionByName(old_rows)
                dv_rel = lake_dv.write_dv_dir(
                    all_pos, self.table_dir, token
                )
                for f in upd:
                    upd_entries.append(
                        dataclasses.replace(
                            f,
                            dv=dv_rel,
                            dv_count=f.dv_count + new_by_path[f.path],
                        )
                    )
                    removed.add(f.path)
                    affected.add(f.bucket)
            if matched_delta:
                removed |= {f.path for f in delta_files}
                affected |= cand_delta
                resolved.unpersist()
            info = {
                "operation": "delete",
                "strategy": "dv",
                "filters": [
                    [c, op, str(lake_stats._encode(v))]
                    for c, op, v in filters
                ],
                "affected_buckets": sorted(affected),
                "matched_rows": int(matched),
                "dv_positions_added": int(sum(new_by_path.values())),
                "dv_files_updated": len(upd_entries),
                "files_rewritten": len(delta_files) if matched_delta else 0,
                "files_kept": len(m.files) - len(removed),
                **(summary or {}),
            }
            self._commit_delta(
                m,
                removed,
                upd_entries + folded_files,
                info,
                affected_buckets=affected,
                surgical=True,
            )
            return info
        finally:
            if positions is not None:
                positions.unpersist()

    # --------------------------------------------------------------- rebucket
    def rebucket(
        self, new_num_buckets: int, summary: dict[str, Any] | None = None
    ) -> dict[str, Any]:
        """Change the table's bucket count — the layout evolution a
        growing table needs (created at 64 buckets, 100× the data
        later, every bucket is now 100 GB and one merge task). One
        full-table rewrite under the new layout in one snapshot commit
        (≙ Iceberg partition-spec evolution, realized eagerly: this
        manifest format records one layout per snapshot, so history
        stays readable — each version's files carry that version's
        bucket ids).

        Content-preserving: rows, per-row applied LSNs and delete
        tombstones read back identically; outstanding MOR deltas are
        resolved and folded (the rewrite reads through ``read``).
        Concurrent writers are safe by construction: a rebucket landing
        first makes every in-flight commit's bucket ids stale, which
        ``_commit_delta`` detects (layout guard) and turns into a
        recompute — ``merge`` re-derives its bucket column and
        affected-bucket map against the new layout, ``append`` rewrites
        under it. A data commit landing first aborts the rebucket
        attempt, which recomputes from the new head (maintenance yields
        to the data plane, like ``compact``).
        """
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")

        def attempt(m: mf.Manifest) -> dict[str, Any]:
            if m.num_buckets == new_num_buckets:
                return {
                    "operation": "rebucket",
                    "num_buckets": new_num_buckets,
                    "skipped": True,
                }
            m_new = dataclasses.replace(m, num_buckets=new_num_buckets)
            data = self.read(version=m.version, include_system=True)
            new_files = self._write_data(
                data, m_new, n_buckets_hint=new_num_buckets
            )
            info = {
                "operation": "rebucket",
                "num_buckets_before": m.num_buckets,
                "num_buckets": new_num_buckets,
                "files": len(new_files),
                **(summary or {}),
            }
            # a lost race means the rewrite is stale in content, not
            # just placement: no rebase, _transact recomputes
            self._commit_next(m, new_files, info, num_buckets=new_num_buckets)
            return info

        return self._transact(attempt)

    def evolve_layout(
        self, new_num_buckets: int, summary: dict[str, Any] | None = None
    ) -> dict[str, Any]:
        """Change the bucket count as a METADATA-ONLY commit — Iceberg
        partition-spec evolution for hash buckets (spec-id per file;
        old data keeps its old spec, new data uses the new one),
        where ``rebucket()`` is the same evolution realized eagerly as
        a full rewrite.

        At 100 TB eager is not an option mid-ingest: a table created
        at 64 buckets that grew 100× needs 1024-way merge parallelism
        NOW, not after an O(table) rewrite window. This commit flips
        ``num_buckets`` and touches zero data bytes:

        - **new writes** (appends, MOR deltas, merge rewrites) bucket
          under the new layout immediately — merge parallelism and
          write sizing change from the next batch on;
        - **old files** stay valid under their recorded per-file
          ``layout`` (manifest.py); reads interpret every file's
          bucket id under the file's own layout, point-lookup pruning
          included (lake/layout.py has the algebra);
        - **migration is incremental**: every COW merge rewrites the
          closure of what it touches under the current layout (the
          rows move exactly when they were going to be rewritten
          anyway), and ``maintain()`` migrates cold stragglers via its
          ``stale_layout`` trigger — steady state returns to one
          layout with no dedicated rewrite job;
        - correctness while mixed: max-LSN last-writer-wins resolution
          is associative/commutative, so group-at-a-time migration
          commutes with concurrent ingest — the same argument that
          makes MOR deltas safe.

        Constraint: the new count must be a multiple or divisor of
        every live layout (divisibility keeps closure groups at ratio
        granularity; lake/layout.py). Arbitrary jumps → ``rebucket()``.

        In-flight writers are NOT invalidated (unlike ``rebucket``):
        their files self-describe their layout and rebase cleanly —
        see ``_commit_delta``'s layout-drift guard.
        """

        def attempt(m: mf.Manifest) -> dict[str, Any]:
            if m.num_buckets == new_num_buckets:
                return {
                    "operation": "evolve_layout",
                    "num_buckets": new_num_buckets,
                    "skipped": True,
                }
            live = {f.layout for f in m.files} | {m.num_buckets}
            lake_layout.validate_evolution(new_num_buckets, live)
            # fresh entry objects with the layout EXPLICIT: breaks
            # format-2 shard reuse-by-pointer for this one commit, so
            # every shard is re-serialized carrying the layout field —
            # otherwise an old shard (implicit layout) read back under
            # the new root would normalize to the NEW num_buckets and
            # misplace every file in it.
            files = [
                dataclasses.replace(
                    f, layout=f.layout if f.layout >= 0 else m.num_buckets
                )
                for f in m.files
            ]
            info = {
                "operation": "evolve_layout",
                "num_buckets_before": m.num_buckets,
                "num_buckets": new_num_buckets,
                "files_pending_migration": len(files),
                **(summary or {}),
            }
            self._commit_next(m, files, info, num_buckets=new_num_buckets)
            return info

        return self._transact(attempt)

    def layout_status(self, version: int | None = None) -> dict[str, Any]:
        """Migration progress: files and rows per layout, and whether
        the table is fully on its current layout. Manifest-only."""
        m = self.manifest(version)
        per: dict[int, dict[str, int]] = {}
        for f in m.files:
            st = per.setdefault(f.layout, {"files": 0, "rows": 0})
            st["files"] += 1
            st["rows"] += max(f.rows, 0)
        return {
            "num_buckets": m.num_buckets,
            "layouts": {str(n): per[n] for n in sorted(per)},
            "migrated": all(n == m.num_buckets for n in per),
        }

    # ----------------------------------------------------------- maintenance
    def compact(
        self,
        min_files_per_bucket: int = 2,
        summary: dict[str, Any] | None = None,
        cluster_by: list[str] | None = None,
        files_per_bucket: int = 4,
        zorder: bool = False,
        buckets: Iterable[int] | None = None,
    ) -> dict[str, Any]:
        """Bin-pack small files: rewrite every bucket holding at least
        ``min_files_per_bucket`` data files into one file, in one
        snapshot commit. Appends (quarantine tables, lineage-heavy
        workloads) accumulate a file per commit per bucket; merge reads
        then pay one open/footer per file. At 100 TB this is the
        scheduled OPTIMIZE job; buckets already at one file carry over
        untouched, so compaction I/O is O(fragmented data) only.

        Also rewrites files whose writer schema is outdated, so a
        compaction after evolve_schema physically migrates old files
        forward and ``read`` stops needing per-schema scan groups.

        ``cluster_by`` sorts each rewritten bucket on the given columns
        and splits it into ~``files_per_bucket`` range-disjoint files
        (instead of one), so min/max stats keep pruning time-range
        reads and retention deletes AFTER the hourly append files are
        folded away (≙ Delta OPTIMIZE ZORDER, 1-D). Clustering forces
        every bucket to rewrite (that is the point), so pair it with a
        filter-heavy read pattern, not a schedule that compacts hot
        append tables every minute.

        ``zorder=True`` (with >= 2 ``cluster_by`` columns) replaces the
        lexicographic sort with a z-curve interleave (lake/zorder.py)
        so file min/max stats prune box predicates on EVERY clustered
        column, not just the first — ``cluster_by=["ts","uid"],
        zorder=True`` serves both the retention sweep and the per-user
        RTBF scan from one layout.
        """
        if zorder and not cluster_by:
            raise ValueError("zorder=True requires cluster_by columns")

        def attempt(m: mf.Manifest) -> dict[str, Any]:
            n_cur = m.num_buckets
            # placement groups (layout, bucket) — after evolve_layout
            # the same bucket id can exist under two layouts, so raw
            # ids are not a grouping key (lake/layout.py)
            groups = lake_layout.file_groups(m.files)
            triggered: set[lake_layout.Group] = set()
            for k, fs in groups.items():
                if len(fs) >= min_files_per_bucket:
                    triggered.add(k)
                # stale writer schema: physical migration forward
                elif any(f.schema_id != m.current_schema_id for f in fs):
                    triggered.add(k)
                # merge-on-read delta groups always compact: read()
                # resolves them (max-LSN winner per key incl.
                # tombstones), so the rewrite folds deltas into plain
                # base files and the read-time resolve cost resets
                elif any(f.kind == "delta" for f in fs):
                    triggered.add(k)
                # deletion-vector'd groups always compact too: the
                # read (which applies the vector) feeds the rewrite,
                # purging the DV'd rows' bytes — the physical erasure
                # a dv-strategy delete defers (lake/dv.py)
                elif any(f.dv for f in fs):
                    triggered.add(k)
            if buckets is not None:
                # explicit CURRENT-layout bucket set (maintain()'s
                # policy engine): bypass the built-in triggers,
                # compact exactly the groups overlapping these
                want = set(buckets)
                triggered = {
                    (n, b)
                    for (n, b) in groups
                    if (b % math.gcd(n, n_cur))
                    in {w % math.gcd(n, n_cur) for w in want}
                }
            if cluster_by:
                if zorder:
                    lake_zorder.validate_zorder_cols(
                        cluster_by, self.schema(m.version)
                    )
                names = {f.name for f in self.schema(m.version).fields}
                for c in cluster_by:
                    if c not in names:
                        raise ValueError(
                            f"cluster column {c!r} not in table schema"
                        )
                if buckets is None:
                    # clustering rewrites every bucket (that is the
                    # point); an explicit bucket set stays scoped
                    triggered = set(groups)
            if not triggered:
                return {
                    "operation": "compact",
                    "affected_buckets": [],
                    "skipped": True,
                }
            # project triggered groups onto the current layout and
            # close: the rewrite replaces whole key-space classes, so
            # an old-layout group compacts TOGETHER with the current-
            # layout files it shares keys with — and its rows come out
            # under the current layout (compaction doubles as the
            # background migration step after evolve_layout)
            seeds: set[int] = set()
            for n, b in triggered:
                g = math.gcd(n, n_cur)
                seeds.update(range(b % g, n_cur, g))
            affected, members = lake_layout.close_buckets(
                seeds, m.files, n_cur
            )
            removed = {f.path for f in members}
            # keep the per-row applied-LSN through the rewrite — losing it
            # would let an old redelivered change beat a compacted row
            data = self.read(
                version=m.version, buckets=affected, include_system=True
            )
            new_files = self._write_data(
                data,
                m,
                n_buckets_hint=len(affected),
                cluster_by=cluster_by,
                files_per_bucket=files_per_bucket,
                zorder=zorder,
            )
            info = {
                "operation": "compact",
                "affected_buckets": sorted(affected),
                "affected_layout": n_cur,
                "files_before": len(members),
                "files_after": len(new_files),
                **({"cluster_by": cluster_by} if cluster_by else {}),
                **({"zorder": True} if zorder else {}),
                **(summary or {}),
            }
            # maintenance yields to the data plane: a concurrent write
            # into a compacted bucket aborts this attempt and _transact
            # recomputes over the fresh head (≙ Iceberg's
            # RewriteDataFiles conflict behavior)
            self._commit_delta(
                m, removed, new_files, info, affected_buckets=affected
            )
            return info

        return self._transact(attempt)

    def bloom_indexed_columns(self, version: int | None = None) -> list[str]:
        """Columns declared secondary-bloom-indexed (``build_blooms``
        records each under a set-once table property), name-sorted."""
        props = self.manifest(version).properties
        n = len(BLOOM_INDEXED_PREFIX)
        return sorted(
            k[n:] for k in props if k.startswith(BLOOM_INDEXED_PREFIX)
        )

    def bloom_coverage(self, version: int | None = None) -> dict[str, dict[str, int]]:
        """Per indexed column: how many data files carry its bloom
        sidecar vs how many applicable files lack it (files whose
        writer schema never had the column are excluded — they cannot
        hold matching rows and never need a sidecar). Manifest-only,
        zero data I/O; feeds ``maintain``'s auto-rebuild trigger and
        the CLI ``status`` report."""
        m = self.manifest(version)
        out: dict[str, dict[str, int]] = {}
        for column in self.bloom_indexed_columns(version):
            fid = m.field_ids.get(m.current_schema_id, {}).get(column)
            covered = uncovered = 0
            for f in m.files:
                if column in f.bloom_cols:
                    covered += 1
                    continue
                if fid is not None and f.schema_id in m.field_ids:
                    if fid not in m.field_ids[f.schema_id].values():
                        continue  # column absent from that writer schema
                uncovered += 1
            out[column] = {"covered": covered, "uncovered": uncovered}
        return out

    def maintain(
        self,
        compact_min_files: int = 4,
        compact_delta_depth: int = 4,
        compact_dv_ratio: float = 0.05,
        expire_keep_last: int | None = None,
        keep_versions: set[int] | None = None,
        vacuum_grace_seconds: float | None = None,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
        files_per_bucket: int = 4,
        bloom_uncovered_files: int | None = 1,
        migrate_layout_groups: int | None = 8,
    ) -> dict[str, Any]:
        """One-call, metadata-driven maintenance — the scheduled
        OPTIMIZE job a long-running ingest needs, with every decision
        taken from the MANIFEST (zero data I/O until a rewrite is
        actually warranted):

        - **compact** a bucket when any trigger fires: file count ≥
          ``compact_min_files`` (small-file bin-packing), outstanding
          MOR deltas ≥ ``compact_delta_depth`` (read-amplification
          bound — the depth/latency curve in BENCH/BASELINE_mor.md is
          the empirical basis), deletion-vector positions ≥
          ``compact_dv_ratio`` × physical rows (purge + read-side
          anti-join cost), or a stale writer schema. Untriggered
          buckets are untouched — maintenance I/O is O(degraded data).
        - **expire** snapshots beyond ``expire_keep_last`` (skipped
          when None); ``keep_versions`` passes catalog/consumer pins
          through.
        - **vacuum** orphans older than ``vacuum_grace_seconds``
          (skipped when None — vacuum needs the grace period sized to
          the slowest plausible in-flight writer, so it is opt-in).
        - **rebuild secondary blooms** for any ``build_blooms``-indexed
          column whose uncovered-file count reaches
          ``bloom_uncovered_files`` (new files land uncovered until
          indexed; this keeps point-predicate pruning current without
          a manual re-run — None disables). Runs AFTER compaction so a
          just-folded bucket is indexed once, not twice.
        - **migrate layout stragglers**: after ``evolve_layout()``,
          groups still under an old layout that the data plane has not
          happened to rewrite are migrated here, up to
          ``migrate_layout_groups`` per run (None disables) — bounded
          background migration that converges a mixed-layout table
          back to one layout without an O(table) rewrite window.

        Safe to run concurrently with the data plane: compaction
        commits are content-preserving replacements that rebase or
        recompute under the optimistic-concurrency rules, and a lost
        race surfaces as a retry, never lost data."""
        m = self.manifest()
        n_cur = m.num_buckets
        per_group: dict[lake_layout.Group, dict[str, int]] = {}
        for f in m.files:
            st = per_group.setdefault(
                (f.layout, f.bucket),
                {"files": 0, "deltas": 0, "dv": 0, "rows": 0, "stale": 0},
            )
            st["files"] += 1
            st["deltas"] += 1 if f.kind == "delta" else 0
            st["dv"] += f.dv_count
            st["rows"] += max(f.rows, 0)
            st["stale"] += 1 if f.schema_id != m.current_schema_id else 0
        triggered: dict[lake_layout.Group, list[str]] = {}
        for k, st in per_group.items():
            why = []
            if st["files"] >= compact_min_files:
                why.append("files")
            if st["deltas"] >= compact_delta_depth:
                why.append("delta_depth")
            if st["rows"] > 0 and st["dv"] >= compact_dv_ratio * st["rows"]:
                why.append("dv_ratio")
            if st["stale"]:
                why.append("stale_schema")
            if why:
                triggered[k] = why
        if migrate_layout_groups is not None and migrate_layout_groups > 0:
            # bounded straggler migration: oldest (coarsest) layouts
            # first, capped per run so the maintenance window stays
            # O(budget) however large the backlog
            budget = migrate_layout_groups
            for k in sorted(per_group):
                if budget <= 0:
                    break
                if k[0] != n_cur and k not in triggered:
                    triggered[k] = ["stale_layout"]
                    budget -= 1
        out: dict[str, Any] = {
            "operation": "maintain",
            "buckets_triggered": {
                f"{n}/{b}": triggered[(n, b)]
                for n, b in sorted(triggered)
            },
        }
        if triggered:
            # project triggered groups onto the current layout for
            # compact()'s bucket-set contract; compact closes the set
            # and migrates whatever it rewrites
            seeds: set[int] = set()
            for n, b in triggered:
                g = math.gcd(n, n_cur)
                seeds.update(range(b % g, n_cur, g))
            out["compact"] = self.compact(
                buckets=seeds,
                cluster_by=cluster_by,
                zorder=zorder,
                files_per_bucket=files_per_bucket,
                summary={"maintain": True},
            )
        if bloom_uncovered_files is not None and bloom_uncovered_files > 0:
            blooms: dict[str, Any] = {}
            for column, cov in self.bloom_coverage().items():
                if cov["uncovered"] >= bloom_uncovered_files:
                    blooms[column] = self.build_blooms(column)
            if blooms:
                out["blooms"] = blooms
        if expire_keep_last is not None:
            out["expire"] = self.expire_snapshots(
                keep_last=expire_keep_last, keep_versions=keep_versions
            )
        if vacuum_grace_seconds is not None:
            out["vacuum"] = self.vacuum_orphans(
                older_than_seconds=vacuum_grace_seconds
            )
        return out

    def rollback(
        self, to_version: int, summary: dict[str, Any] | None = None
    ) -> dict[str, Any]:
        """Restore the table to snapshot ``to_version`` — bad-batch
        remediation (a poisoned upstream batch merged, a misconfigured
        backfill overwrote good data). Metadata-only and O(1): one new
        commit whose files/schema/layout/properties are the target
        manifest's, no data I/O (≙ Iceberg ``rollback_to_snapshot`` /
        Delta RESTORE; the reference's replay-from-checkpoint recovery,
        FnOrchestrator.kt:182-192, realized as a snapshot operation).

        Semantics:

        - ``read()`` afterwards equals ``read(version=to_version)``
          exactly, including MOR deltas, tombstones, schema, and bucket
          layout (a rollback across a ``rebucket`` restores the old
          layout — files carry their manifest's bucket ids).
        - History is preserved: the rolled-back versions stay time-
          travelable until ``expire_snapshots``; ``lineage_df`` keeps
          the full physical audit trail.
        - The exactly-once ledger REWINDS: ``committed_batch_ids``
          follows the rollback edge, so batches applied after
          ``to_version`` can be re-applied (corrected) under their
          original batch ids — replaying the fixed log lands on the
          state the good log would have produced.
        - Concurrency: an explicit admin operation — on a commit race
          it retries against the new head (last writer wins, like any
          admin restore); a concurrent writer that lands AFTER the
          rollback wins over it.
        """
        if to_version > self.current_version():
            raise ValueError(
                f"cannot roll back to v{to_version}: head is "
                f"v{self.current_version()}"
            )
        if self.branch is not None and to_version < self._branch_base():
            # rolling a BRANCH below its fork point would make its net
            # effect rewrite main history it never owned — publish
            # would then fold a partial rollback of main into the
            # ledger. Roll back main itself, or re-branch earlier.
            raise ValueError(
                f"branch {self.branch!r} forked at "
                f"v{self._branch_base()}: cannot roll back below the "
                "fork point from a branch"
            )
        target = self.manifest(to_version)  # raises if expired/unknown

        def attempt(head: mf.Manifest) -> dict[str, Any]:
            if to_version == head.version:
                return {
                    "operation": "rollback",
                    "restored_version": to_version,
                    "skipped": True,
                }
            info: dict[str, Any] = {
                "operation": "rollback",
                "restored_version": to_version,
                "rolled_back_from": head.version,
                **(summary or {}),
            }
            self._commit_next(head, list(target.files), info, template=target)
            return info

        return self._transact(attempt)

    # ------------------------------------------------- branches (WAP)
    def create_branch(self, name: str) -> "LakeTable":
        """Fork a writable branch at the current head — the staging leg
        of write-audit-publish (≙ Iceberg branch refs / Delta's
        recommended WAP flow; the reference's staged destination before
        Event Grid fan-out, RouteIngestedFile.kt:57-75, generalized to
        a whole-table staging area).

        O(1): the branch starts as a hard link of the head manifest in
        its own ``_refs/<name>/_manifests`` namespace. Branch commits
        (merge / append / compact / schema evolution / rollback) write
        real data files into the SHARED data directory but publish
        manifests only to the branch, so main readers never see them.
        Audit the branch with any read path, then ``publish_branch``
        (atomic) or ``drop_branch`` (the staged files become orphans
        for ``vacuum_orphans``)."""
        import json as _json

        if self.branch is not None:
            raise ValueError("branches fork from the main ref only")
        _validate_branch_name(name)
        head = self.current_version()
        bdir = os.path.join(self.table_dir, REFS_DIR, name)
        os.makedirs(os.path.join(bdir, mf.MANIFEST_DIR), exist_ok=True)
        import uuid as _uuid

        tmp = os.path.join(bdir, f".tmp-{_uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            fh.write(_json.dumps({"base": head}))
            fh.flush()
            os.fsync(fh.fileno())
        from dexspark.lake.commitstore import get_store

        store = get_store()
        try:
            store.publish(tmp, os.path.join(bdir, BRANCH_META))
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists") from None
        finally:
            os.unlink(tmp)
        store.mirror(
            mf.manifest_path(self.table_dir, head),
            mf.manifest_path(bdir, head),
        )
        # a format-2 root references file-list shards by name: hard-link
        # them into the branch's own segments dir so the branch stays
        # readable after main expires/GCs the fork-point version (hard
        # links survive removal of main's directory entry)
        seg_names = mf.root_segment_names(self.table_dir, head)
        if seg_names:
            os.makedirs(mf.segment_dir(bdir), exist_ok=True)
            for s in seg_names:
                store.mirror(
                    os.path.join(mf.segment_dir(self.table_dir), s),
                    os.path.join(mf.segment_dir(bdir), s),
                )
        return LakeTable(self.spark, self.table_dir, branch=name)

    def branch_table(self, name: str) -> "LakeTable":
        """Open an existing branch as a writable LakeTable."""
        _validate_branch_name(name)
        bdir = os.path.join(self.table_dir, REFS_DIR, name)
        if not os.path.exists(os.path.join(bdir, BRANCH_META)):
            raise FileNotFoundError(
                f"no branch {name!r} at {self.table_dir}"
            )
        return LakeTable(self.spark, self.table_dir, branch=name)

    def list_branches(self) -> list[str]:
        rdir = os.path.join(self.table_dir, REFS_DIR)
        if not os.path.isdir(rdir):
            return []
        return sorted(
            n
            for n in os.listdir(rdir)
            if os.path.exists(os.path.join(rdir, n, BRANCH_META))
        )

    def drop_branch(self, name: str) -> dict[str, Any]:
        """Delete a branch ref. Metadata-only: data files referenced
        ONLY by the dropped branch stay on disk as orphans and are
        reclaimed by ``vacuum_orphans`` after its grace period — so an
        in-flight reader of the branch keeps working until GC, the
        same isolation expire_snapshots gives main."""
        import shutil

        self.branch_table(name)  # raises if absent
        shutil.rmtree(os.path.join(self.table_dir, REFS_DIR, name))
        return {"operation": "drop_branch", "branch": name}

    def _branch_local_chain(self, bt: "LakeTable") -> list[mf.Manifest]:
        """Branch commits on the LIVE branch lineage, oldest first
        (follows rollback edges, stops at the fork point)."""
        base = bt._branch_base()
        chain: list[mf.Manifest] = []
        m = bt.manifest()
        while m.version > base:
            chain.append(m)
            nxt = (
                m.summary.get("restored_version")
                if m.summary.get("operation") == "rollback"
                else m.parent
            )
            if nxt is None:
                break
            m = bt.manifest(nxt)
        chain.reverse()
        return chain

    def publish_branch(
        self, name: str, summary: dict[str, Any] | None = None
    ) -> dict[str, Any]:
        """Atomically fold a branch into main — the publish leg of
        write-audit-publish. ONE main commit adopts the branch head's
        files, schema lineage, bucket layout, and properties; its
        summary records every branch-local batch id, and
        ``committed_batch_ids`` folds those into the exactly-once
        ledger, so a batch staged-and-published can never double-apply
        on main (and a ``rollback`` past the publish commit releases
        them all together).

        Fast-forward only: publishing requires main's head to still be
        the branch's fork point. If main advanced (a concurrent ingest
        or maintenance commit), the publish raises ``CommitConflict``
        and main is untouched — re-branch from the new head and
        re-stage, exactly like Iceberg's ``fast_forward``. This keeps
        publish trivially atomic: there is no window where main shows a
        prefix of the branch.

        Quiesce branch writers before publishing: a branch commit that
        lands after the publish reads the branch head is NOT folded in
        (it stays safely staged on the branch) but cannot be published
        later either — main has moved past the fork point."""
        if self.branch is not None:
            raise ValueError("publish from the main ref only")
        bt = self.branch_table(name)
        base = bt._branch_base()
        chain = self._branch_local_chain(bt)
        if not chain:
            return {"operation": "publish", "branch": name, "skipped": True}
        bhead = chain[-1]
        head = self.manifest()
        info: dict[str, Any] = {
            "operation": "publish",
            "branch": name,
            "published_versions": [m.version for m in chain],
            "published_batch_ids": [
                m.summary["batch_id"]
                for m in chain
                if "batch_id" in m.summary
            ],
            **(summary or {}),
        }
        if head.version != base:
            raise CommitConflict(
                f"cannot fast-forward branch {name!r}: forked at "
                f"v{base} but main head is v{head.version} — re-branch "
                "from the new head and re-stage"
            )
        try:
            self._commit_next(head, list(bhead.files), info, template=bhead)
        except CommitConflict:
            raise CommitConflict(
                f"cannot fast-forward branch {name!r}: main advanced "
                "past the fork point during publish — re-branch from "
                "the new head and re-stage"
            ) from None
        return info

    # ----------------------------------------------------------- tags
    def tag(self, name: str, version: int | None = None) -> dict[str, Any]:
        """Pin snapshot ``version`` (default: head) under an immutable
        name (≙ Iceberg tags / Delta's recommended version-pinning for
        reproducibility). The pinned snapshot — manifest AND data files
        — survives ``expire_snapshots`` until ``drop_tag``, so a
        training run that records its tag can re-read the exact table
        state it consumed long after untagged history aged out.
        Create-once: re-tagging an existing name raises (drop first) —
        a tag that can move silently is a version pin in name only."""
        import json as _json
        import uuid as _uuid

        if self.branch is not None:
            raise ValueError("tags pin main-ref snapshots: tag from main")
        _validate_branch_name(name)
        v = version if version is not None else self.current_version()
        self.manifest(v)  # raises if expired/unknown
        tdir = os.path.join(self.table_dir, TAGS_DIR)
        os.makedirs(tdir, exist_ok=True)
        tmp = os.path.join(tdir, f".tmp-{_uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            fh.write(_json.dumps({"version": v}))
            fh.flush()
            os.fsync(fh.fileno())
        try:
            from dexspark.lake.commitstore import get_store

            get_store().publish(tmp, os.path.join(tdir, f"{name}.json"))
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        finally:
            os.unlink(tmp)
        return {"operation": "tag", "tag": name, "version": v}

    def resolve_tag(self, name: str) -> int:
        import json as _json

        _validate_branch_name(name)
        p = os.path.join(self.table_dir, TAGS_DIR, f"{name}.json")
        try:
            with open(p) as fh:
                return int(_json.load(fh)["version"])
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no tag {name!r} at {self.table_dir}"
            ) from None

    def list_tags(self) -> dict[str, int]:
        tdir = os.path.join(self.table_dir, TAGS_DIR)
        if not os.path.isdir(tdir):
            return {}
        return {
            n[:-5]: self.resolve_tag(n[:-5])
            for n in sorted(os.listdir(tdir))
            if n.endswith(".json") and not n.startswith(".")
        }

    def drop_tag(self, name: str) -> dict[str, Any]:
        v = self.resolve_tag(name)  # raises if absent
        os.remove(os.path.join(self.table_dir, TAGS_DIR, f"{name}.json"))
        return {"operation": "drop_tag", "tag": name, "version": v}

    def _ref_manifest_sets(self) -> Iterable[tuple[str, list[int]]]:
        """(meta_dir, versions) for main and every live branch — the
        universe GC must treat as referencing data files."""
        yield self.table_dir, mf.available_versions(self.table_dir)
        for name in self.list_branches():
            bdir = os.path.join(self.table_dir, REFS_DIR, name)
            yield bdir, mf.available_versions(bdir)

    def expire_snapshots(
        self,
        keep_last: int = 1,
        keep_versions: set[int] | None = None,
        older_than_seconds: float | None = None,
    ) -> dict[str, Any]:
        """Vacuum: delete manifests older than the last ``keep_last``
        versions and any data file referenced only by them. Time travel
        to expired versions stops working (by design — this is Iceberg's
        expire_snapshots), and batch_ids recorded only in expired
        summaries leave the ledger — size ``keep_last`` beyond the
        streaming checkpoint's replay horizon. The current snapshot is
        never touched. Tagged versions are always retained;
        ``keep_versions`` adds external pins with the same protection —
        lake/catalog.py's ``protected_versions()`` feeds it so a
        cross-table catalog pin keeps its snapshot readable.

        ``older_than_seconds`` adds an AGE floor (the production
        retention rule: "expire history older than 7 days, keep at
        least keep_last regardless"): a snapshot younger than the
        horizon survives even beyond ``keep_last``, so a reader that
        planned against a recent snapshot keeps its files for at
        least the horizon. Snapshots without a commit stamp
        (pre-upgrade manifests) cannot prove their age and are KEPT
        under an age policy — expire them with a pure keep_last call.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if self.branch is not None:
            raise ValueError(
                "maintenance runs on the main ref: a branch-scoped "
                "expiry cannot see main's references to shared files"
            )
        head = self.current_version()
        cutoff = head - keep_last + 1
        avail = mf.available_versions(self.table_dir)
        tagged = set(self.list_tags().values()) | set(keep_versions or ())
        expired = [v for v in avail if v < cutoff and v not in tagged]
        if older_than_seconds is not None:
            import time as _time

            horizon = _time.time() - older_than_seconds
            old_enough = []
            for v in expired:
                ts = self.manifest(v).committed_at
                if ts is not None and ts < horizon:
                    old_enough.append(v)
            expired = old_enough
        if not expired:
            return {"operation": "expire_snapshots", "expired_versions": []}
        expired_set = set(expired)
        keep_paths: set[str] = set()
        keep_dvs: set[str] = set()
        for v in avail:
            if v not in expired_set:
                for f in self.manifest(v).files:
                    keep_paths.add(f.path)
                    if f.dv:
                        keep_dvs.add(f.dv)
        # files referenced by any live branch stay: the branch may not
        # have been published yet (its fork-point manifest itself
        # survives main expiry — it is a hard link, not a reference)
        for bdir, versions in self._ref_manifest_sets():
            if bdir == self.table_dir:
                continue
            for v in versions:
                for f in mf.read_manifest(bdir, v).files:
                    keep_paths.add(f.path)
                    if f.dv:
                        keep_dvs.add(f.dv)
        removed_files = 0
        seen: set[str] = set()
        seen_dvs: set[str] = set()
        for v in expired:
            for f in self.manifest(v).files:
                if f.dv and f.dv not in keep_dvs and f.dv not in seen_dvs:
                    # deletion-vector directory referenced only by
                    # expired manifests
                    seen_dvs.add(f.dv)
                    dvp = os.path.join(self.table_dir, f.dv)
                    if os.path.isdir(dvp):
                        __import__("shutil").rmtree(dvp, ignore_errors=True)
                if f.path in keep_paths or f.path in seen:
                    continue
                seen.add(f.path)
                p = os.path.join(self.table_dir, f.path)
                if os.path.exists(p):
                    os.remove(p)
                    removed_files += 1
                for sc in lake_bloom.sidecars_for(p):
                    os.remove(sc)
        for v in expired:
            mp = mf.manifest_path(self.table_dir, v)
            if os.path.exists(mp):
                os.remove(mp)
        # file-list shards referenced only by the removed roots (plus
        # orphans from lost commit races); mtime grace covers in-flight
        # commits whose root link has not landed yet
        removed_segments = mf.gc_segments(self.table_dir)
        return {
            "operation": "expire_snapshots",
            "expired_versions": expired,
            "removed_files": removed_files,
            "removed_segments": len(removed_segments),
        }

    def vacuum_orphans(
        self, older_than_seconds: float = 24 * 3600, dry_run: bool = False
    ) -> dict[str, Any]:
        """Remove data files referenced by NO retained manifest.

        Orphans are real: a merge/compact/delete attempt that loses its
        commit race has already written its output files, and the
        recompute writes fresh ones — the losers stay on disk forever
        (``expire_snapshots`` only removes files that some expired
        manifest REFERENCED). At streaming frequency with concurrent
        maintenance, orphan volume grows with conflict rate; this is
        the scheduled GC job (≙ Delta VACUUM / Iceberg
        remove_orphan_files).

        ``older_than_seconds`` is the safety margin for IN-FLIGHT
        writers: a commit attempt writes data first and references it
        in a manifest seconds later, so a freshly-written unreferenced
        file may be about to be committed. Only files whose mtime is
        older than the grace period are deleted — size it well beyond
        the longest plausible write-to-commit latency (default 24 h,
        Delta's default). Referenced-ness is computed against EVERY
        retained manifest version, so time travel is never broken.
        """
        import time as _time

        if self.branch is not None:
            raise ValueError(
                "maintenance runs on the main ref: a branch-scoped GC "
                "cannot see main's references to shared files"
            )
        referenced: set[str] = set()
        referenced_dvs: set[str] = set()  # DV dirs — parts live inside
        for bdir, versions in self._ref_manifest_sets():
            for v in versions:
                for f in mf.read_manifest(bdir, v).files:
                    referenced.add(f.path)
                    if f.dv:
                        referenced_dvs.add(f.dv)
        data_root = os.path.join(self.table_dir, mf.DATA_DIR)
        cutoff = _time.time() - older_than_seconds
        removed: list[str] = []
        removed_sidecars: list[str] = []
        sidecars: list[str] = []  # seen during the ONE walk; paired below
        scanned = 0
        for dirpath, _dirs, names in os.walk(data_root):
            for name in names:
                abs_p = os.path.join(dirpath, name)
                if name.endswith(lake_bloom.SUFFIX):
                    sidecars.append(abs_p)
                    continue  # paired with its data file below
                if not name.endswith(".parquet"):
                    continue
                scanned += 1
                rel_p = os.path.relpath(abs_p, self.table_dir)
                if rel_p in referenced:
                    continue
                # a deletion-vector part is referenced through its
                # DIRECTORY (manifests record the dir, Spark names the
                # parts) — orphaned dv dirs fall through and age out
                if os.path.dirname(rel_p) in referenced_dvs:
                    continue
                try:
                    if os.path.getmtime(abs_p) > cutoff:
                        continue  # possibly an in-flight commit
                    if not dry_run:
                        os.remove(abs_p)
                except OSError:
                    continue  # racing another vacuum — already gone
                removed.append(rel_p)
                for sc in lake_bloom.sidecars_for(abs_p):
                    if not dry_run:
                        os.remove(sc)
                    removed_sidecars.append(
                        os.path.relpath(sc, self.table_dir)
                    )
        # sidecars whose data file is gone (a vacuum crash between the
        # paired removes above, or an external delete of the parquet
        # alone) would otherwise leak forever
        for abs_sc in sidecars:
            if not os.path.exists(lake_bloom.data_path(abs_sc)):
                try:
                    if os.path.getmtime(abs_sc) <= cutoff:
                        if not dry_run:
                            os.remove(abs_sc)
                        removed_sidecars.append(
                            os.path.relpath(abs_sc, self.table_dir)
                        )
                except OSError:
                    pass
        # empty commit-token directories left behind by removed orphans
        for dirpath, dirs, names in list(os.walk(data_root, topdown=False)):
            if dry_run:
                break
            if dirpath != data_root and not dirs and not names:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        # manifest file-list shards orphaned by lost commit races (a
        # loser writes its shards before its root link fails) — same
        # mtime grace protects in-flight commits
        removed_segments = (
            []
            if dry_run
            else mf.gc_segments(
                self.table_dir, grace_seconds=older_than_seconds
            )
        )
        return {
            "operation": "vacuum_orphans",
            "scanned_files": scanned,
            "removed_files": len(removed),
            "removed": sorted(removed),
            "removed_sidecars": sorted(removed_sidecars),
            "removed_segments": len(removed_segments),
            **({"dry_run": True} if dry_run else {}),
        }

    # ------------------------------------------------------- schema evolution
    def evolve_schema(self, new_schema: StructType) -> bool:
        """Additive columns + numeric widening. Returns True if evolved.

        Reference has no schema evolution (configs fixed, SURVEY §2.2);
        this is the north-rule requirement: ALTER-like DDL mid-replay.
        """

        def attempt(m: mf.Manifest) -> bool:
            current = self.schema(m.version)
            if new_schema.json() == current.json():
                return False
            cur_fields = {f.name: f for f in current.fields}
            for f in new_schema.fields:
                if f.name in cur_fields:
                    old = cur_fields[f.name].dataType
                    if old != f.dataType and (old, f.dataType) not in _WIDENINGS:
                        raise ValueError(
                            f"illegal type change for {f.name}: {old} -> {f.dataType}"
                        )
            for name in cur_fields:
                if name not in new_schema.fieldNames():
                    raise ValueError(f"dropping column {name!r} is not supported")
            new_sid = max(m.schemas) + 1
            schemas = dict(m.schemas)
            schemas[new_sid] = new_schema.json()
            ids = self._seeded_field_ids(m)
            cur_map = ids[m.current_schema_id]
            nxt_id = (
                max(
                    (i for mp in ids.values() for i in mp.values()),
                    default=0,
                )
                + 1
            )
            new_map: dict[str, int] = {}
            for fname in new_schema.fieldNames():
                if fname in cur_map:
                    new_map[fname] = cur_map[fname]
                else:
                    # fresh id: if this name was EVER dropped before,
                    # old files' data for it stays dead (by-id align)
                    new_map[fname] = nxt_id
                    nxt_id += 1
            ids[new_sid] = new_map
            # metadata-only: recompute on conflict is one manifest
            # re-read + re-validate against the (possibly evolved) new
            # head
            self._commit_next(
                m,
                m.files,
                {"operation": "evolve_schema", "schema_id": new_sid},
                schemas=schemas,
                current_schema_id=new_sid,
                field_ids=ids,
            )
            return True

        return self._transact(attempt)

    def _seeded_field_ids(self, m: mf.Manifest) -> dict[int, dict[str, int]]:
        """``field_ids`` with EVERY schema id covered. Pre-upgrade
        schemas (written before field ids existed) are seeded by name
        against the maps already present — valid because pre-upgrade
        evolution was strictly add/widen, so equal names are the same
        logical field."""
        import json as _json

        ids = {k: dict(v) for k, v in m.field_ids.items()}
        registry: dict[str, int] = {}
        for sid in sorted(ids):
            registry.update(ids[sid])
        nxt = max(registry.values(), default=0) + 1
        for sid in sorted(m.schemas):
            if sid in ids:
                continue
            mp: dict[str, int] = {}
            for n in StructType.fromJson(
                _json.loads(m.schemas[sid])
            ).fieldNames():
                if n not in registry:
                    registry[n] = nxt
                    nxt += 1
                mp[n] = registry[n]
            ids[sid] = mp
        return ids

    def _guard_key_column(self, m: mf.Manifest, name: str, verb: str) -> None:
        keys = set(
            (m.properties.get("merge_keys") or m.bucket_key).split(",")
        )
        if name == m.bucket_key or name in keys:
            raise ValueError(
                f"cannot {verb} {name!r}: it is the bucket/merge key "
                "(rebucket to a different key first)"
            )

    # ------------------------------------------------------- constraints
    def constraints(self) -> dict[str, dict]:
        """Declared CHECK constraints: {name: {"expr", "on_violation"}}
        (name-sorted). See dexspark.lake.constraints."""
        return lake_ct.defs_from_properties(self.manifest().properties)

    def add_constraint(
        self, name: str, expr: str, on_violation: str = "fail"
    ) -> dict[str, Any]:
        """Declare a CHECK constraint (≙ Delta ``ALTER TABLE ... ADD
        CONSTRAINT`` / DLT expectations — see lake/constraints.py).

        ``on_violation="fail"`` validates EXISTING rows first (one
        scan) and then hard-blocks every future write that would
        introduce a violating row; ``"drop"`` is a forward-looking
        expectation the CDC pipeline quarantines on (existing rows are
        not scanned — DLT semantics). The commit is metadata-only.

        Race-safe by construction: any concurrent data commit between
        the validation scan and our metadata commit takes the version
        slot we target, so ``_commit_next`` conflicts and the retry
        re-validates against the new head — a "fail" constraint that
        lands is therefore a proof over the state it landed on."""
        lake_ct.validate_name(name)
        if on_violation not in lake_ct.MODES:
            raise ValueError(
                f"on_violation must be one of {lake_ct.MODES}, "
                f"got {on_violation!r}"
            )
        key = lake_ct.PREFIX + name

        def attempt(m: mf.Manifest) -> dict[str, Any]:
            if key in m.properties:
                raise ValueError(f"constraint {name!r} already exists")
            # analysis check: the predicate must resolve against the
            # current schema and be castable to boolean (loud failure
            # now beats a broken write path later)
            probe = self.spark.createDataFrame([], self.schema(m.version))
            probe.select(lake_ct.is_violated(expr))
            n_checked = None
            if on_violation == "fail":
                row = (
                    self.read(version=m.version)
                    .agg(
                        F.sum(
                            F.when(lake_ct.is_violated(expr), 1).otherwise(0)
                        ).alias("_bad"),
                        F.count(F.lit(1)).alias("_n"),
                    )
                    .first()
                )
                n_checked = int(row["_n"])
                lake_ct.raise_if_violated(
                    {name: int(row["_bad"] or 0)},
                    f"add_constraint on {self.table_dir}",
                )
            props = dict(m.properties)
            props[key] = json.dumps(
                {"expr": expr, "on_violation": on_violation}
            )
            self._commit_next(
                m,
                m.files,
                {
                    "operation": "add_constraint",
                    "constraint": name,
                    "on_violation": on_violation,
                },
                properties=props,
            )
            return {
                "name": name,
                "expr": expr,
                "on_violation": on_violation,
                "validated_rows": n_checked,
            }

        return self._transact(attempt)

    def drop_constraint(self, name: str) -> dict[str, Any]:
        """Remove a CHECK constraint (metadata-only commit). Time
        travel to earlier versions still shows it — constraints are
        versioned with the manifest like everything else."""
        key = lake_ct.PREFIX + name

        def attempt(m: mf.Manifest) -> dict[str, Any]:
            if key not in m.properties:
                raise ValueError(f"no constraint {name!r}")
            props = {k: v for k, v in m.properties.items() if k != key}
            self._commit_next(
                m,
                m.files,
                {"operation": "drop_constraint", "constraint": name},
                properties=props,
            )
            return {"name": name, "dropped": True}

        return self._transact(attempt)

    def _fail_constraint_defs(self, m: mf.Manifest) -> dict[str, dict]:
        return {
            n: d
            for n, d in lake_ct.defs_from_properties(m.properties).items()
            if d["on_violation"] == "fail"
        }

    def _check_constraints_job(
        self, df: DataFrame, m: mf.Manifest, context: str
    ) -> None:
        """Dedicated one-aggregate enforcement job for the cold write
        paths (append / overwrite / MERGE INTO). The CDC hot path never
        runs this — merge() rides its existing per-bucket stats pass
        and apply_changes rides its validation Observation instead."""
        defs = self._fail_constraint_defs(m)
        if not defs:
            return
        row = df.agg(*lake_ct.violation_count_aggs(defs)).first()
        lake_ct.raise_if_violated(
            {n: int(row["_cviol_" + n] or 0) for n in defs}, context
        )

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column RENAME (≙ Iceberg rename; impossible
        under by-name alignment). The new schema keeps the field's
        STABLE ID, so every existing file — written under any older
        schema — reads back under the new name with zero data I/O,
        and time travel to pre-rename versions still shows the old
        name. Bucket/merge keys cannot be renamed (bucket derivation
        and MERGE targeting resolve them by name at run time).

        Producer contract: a change batch aligns to the schema CURRENT
        when its merge plans — switch upstream producers to the new
        name at the same time as the rename (an in-flight merge that
        planned under the old schema commits old-named files, which
        read back renamed by id; a batch still sending the old name
        AFTER the rename has an unknown column, which aligns to NULL
        like any unknown batch column).

        Returns the new schema id."""
        if not new or "." in new:
            raise ValueError(f"invalid column name {new!r}")

        def attempt(m: mf.Manifest) -> int:
            current = self.schema(m.version)
            names = current.fieldNames()
            if old not in names:
                raise ValueError(f"no column {old!r} to rename")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            self._guard_key_column(m, old, "rename")
            new_schema = StructType(
                [
                    StructField(
                        new if f.name == old else f.name,
                        f.dataType,
                        f.nullable,
                    )
                    for f in current.fields
                ]
            )
            ids = self._seeded_field_ids(m)
            ids_new = {
                (new if n == old else n): i
                for n, i in ids[m.current_schema_id].items()
            }
            new_sid = max(m.schemas) + 1
            schemas = dict(m.schemas)
            schemas[new_sid] = new_schema.json()
            ids[new_sid] = ids_new
            self._commit_next(
                m,
                m.files,
                {
                    "operation": "rename_column",
                    "from": old,
                    "to": new,
                    "schema_id": new_sid,
                },
                schemas=schemas,
                current_schema_id=new_sid,
                field_ids=ids,
            )
            return new_sid

        return self._transact(attempt)

    def drop_column(self, name: str) -> int:
        """Metadata-only column DROP. Existing files keep the bytes
        (time travel to pre-drop versions still reads them); current
        reads project the field away BY ID, so a later re-ADD of the
        same name (which gets a fresh id) reads NULL from old files
        instead of resurrecting dropped data — the classic by-name
        alignment bug this exists to prevent. Physical erasure of the
        dropped column's bytes happens as files rewrite (compaction /
        deletes); a full `compact(cluster_by=...)` forces it
        everywhere. Returns the new schema id."""

        def attempt(m: mf.Manifest) -> int:
            current = self.schema(m.version)
            if name not in current.fieldNames():
                raise ValueError(f"no column {name!r} to drop")
            if len(current.fields) == 1:
                raise ValueError("cannot drop the only column")
            self._guard_key_column(m, name, "drop")
            new_schema = StructType(
                [f for f in current.fields if f.name != name]
            )
            ids = self._seeded_field_ids(m)
            ids_new = {
                n: i
                for n, i in ids[m.current_schema_id].items()
                if n != name
            }
            new_sid = max(m.schemas) + 1
            schemas = dict(m.schemas)
            schemas[new_sid] = new_schema.json()
            ids[new_sid] = ids_new
            self._commit_next(
                m,
                m.files,
                {
                    "operation": "drop_column",
                    "column": name,
                    "schema_id": new_sid,
                },
                schemas=schemas,
                current_schema_id=new_sid,
                field_ids=ids,
            )
            return new_sid

        return self._transact(attempt)


def _align(
    df: DataFrame,
    schema: StructType,
    keep: tuple[str, ...] = (),
    src_ids: dict[str, int] | None = None,
    tgt_ids: dict[str, int] | None = None,
) -> DataFrame:
    """Project/cast df to exactly `schema` (missing columns → NULL);
    ``keep`` columns pass through untouched after the schema fields.

    With BOTH field-id maps (writer schema's and target's — see
    manifest.py ``field_ids``), a target field's source column is
    resolved BY ID: a renamed column reads its old name from old
    files, and a dropped-then-readded name (fresh id) reads NULL from
    files written before the re-add instead of resurrecting the
    dropped data. Fields absent from the maps (system columns,
    pre-upgrade schemas) fall back to by-name — the previous
    behavior, so tables without the maps are unaffected."""
    inv_src = (
        {fid: n for n, fid in src_ids.items()} if src_ids else None
    )
    cols = []
    have = set(df.columns)
    for f in schema.fields:
        src = f.name
        if inv_src is not None and tgt_ids is not None and f.name in tgt_ids:
            src = inv_src.get(tgt_ids[f.name])  # None = not in writer
        if src is not None and src in have:
            cols.append(F.col(src).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    cols.extend(F.col(k) for k in keep)
    return df.select(*cols)
