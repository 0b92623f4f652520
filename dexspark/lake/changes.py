"""Change-feed reader: diff two table snapshots into I/U/D events.

The engine's write side turns change events into snapshots; this is the
read side — reconstructing a change feed FROM snapshots (Delta's
``table_changes`` / Iceberg's changelog scan), so a downstream consumer
can subscribe to a table it does not ingest. Together they make the
lake table a CDC hub: log → table → log.

Plan shape: one full-outer join of the two snapshots on the merge key.
Both sides are bucketed on the same key already, and unchanged rows are
dropped by a null-safe struct comparison BEFORE anything wide happens —
so the output is O(changed rows). Both reads additionally PRUNE to the
buckets whose file sets differ between the two manifests
(``changed_buckets`` — a metadata-only diff), so at 100 TB the join
never reads, shuffles, or compares a bucket the interval didn't touch:
I/O is O(changed data), not O(table).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from dexspark.lake.table import _WIDENINGS, LakeTable, _align, _quote


def changed_buckets(
    table: LakeTable, from_version: int, to_version: int | None = None
) -> set[int]:
    """Buckets whose file set differs between two snapshots — a pure
    manifest diff, no data I/O. A bucket the merge never touched keeps
    its exact file list (COW rewrites per bucket), so only these
    buckets can contain changed rows. Compaction/bin-packing also
    rewrites files, which conservatively marks its buckets changed —
    harmless: their unchanged rows are dropped by the null-safe struct
    comparison downstream.

    Returned ids are under the TO-version's current layout. Files are
    diffed per placement group (layout, bucket) — after an
    ``evolve_layout`` between the versions the same bucket id can mean
    two different key-spaces — and the result is CLOSED over both
    versions' file sets (lake/layout.py), so reading both snapshots
    with it (``buckets_layout=`` the to-version layout) yields the
    same key-space on each side: no unchanged key can appear on one
    side only and fake an I or D. An evolve_layout commit alone moves
    no files, so it diffs to the empty set."""
    import math

    from dexspark.lake import layout as lake_layout

    mo = table.manifest(from_version)
    mn = table.manifest(to_version)

    def by_group(m) -> dict[tuple[int, int], frozenset[str]]:
        d: dict[tuple[int, int], set[str]] = {}
        for f in m.files:
            d.setdefault((f.layout, f.bucket), set()).add(f.path)
        return {k: frozenset(s) for k, s in d.items()}

    o, n = by_group(mo), by_group(mn)
    changed = {
        k
        for k in set(o) | set(n)
        if o.get(k, frozenset()) != n.get(k, frozenset())
    }
    n_ref = mn.num_buckets
    seeds: set[int] = set()
    for layout_n, b in changed:
        g = math.gcd(layout_n, n_ref)
        seeds.update(range(b % g, n_ref, g))
    closed, _ = lake_layout.close_buckets(
        seeds, list(mo.files) + list(mn.files), n_ref
    )
    return closed


def last_done_version(consumer: LakeTable, batch_id_prefix: str) -> int | None:
    """Highest source version a subscriber (mirror, aggregate view) has
    committed, recovered from its own batch ledger — the shared resume
    gate for every ``{prefix}-v{version}`` consumer. None if it has
    never run."""
    pat = re.compile(re.escape(batch_id_prefix) + r"-v(\d+)$")
    hits = [
        int(g.group(1))
        for i in consumer.committed_batch_ids()
        if (g := pat.match(str(i)))
    ]
    return max(hits) if hits else None


def _default_keys(table: LakeTable, key_cols: list[str] | None) -> list[str]:
    """Resolve the row-identity columns for a snapshot diff. Prefer the
    manifest's recorded ``merge_keys`` (written by every conditional
    merge — COW and MOR) over the bucket key: for composite-key tables
    the bucket key alone is a PARTIAL key, and a full-outer join on it
    would pair unrelated rows and corrupt downstream merges."""
    if key_cols:
        return key_cols
    m = table.manifest()
    declared = m.properties.get("merge_keys")
    return declared.split(",") if declared else [m.bucket_key]


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    payload: list[str],
    op_col: str = "op",
    images: bool = False,
) -> DataFrame:
    """Classify the rows of two keyed snapshots into I/U/D.

    Both inputs must carry exactly the ``payload`` columns (old already
    aligned to new's schema) with one row per key. Output = payload +
    ``op_col``; D rows carry the deleted row's (old) payload; identical
    rows are dropped by a null-safe struct compare before anything
    wide happens, so the output is O(changed rows).

    ``images=True`` switches the output to key_cols + ``op_col`` +
    ``_old``/``_new`` payload STRUCTS (``_old`` null for I, ``_new``
    null for D) — the pre/post-image feed consumers that must RETRACT
    an old value need (incremental aggregate maintenance,
    lake/matview.py); the default single-image shape cannot say what a
    U row used to be."""
    non_keys = [c for c in payload if c not in key_cols]

    def _col(name: str):
        # payload names may need SQL quoting (spaces, dots, backticks)
        return F.col(_quote(name))

    o = old.select(
        *[_col(c).alias(f"_o_{c}") for c in payload],
        *[_col(c) for c in key_cols],
    )
    n = new.select(
        *[_col(c).alias(f"_n_{c}") for c in payload],
        *[_col(c) for c in key_cols],
    )
    j = o.join(n, on=key_cols, how="full_outer")

    in_old = _col(f"_o_{key_cols[0]}").isNotNull()
    in_new = _col(f"_n_{key_cols[0]}").isNotNull()
    same = F.struct(*[_col(f"_o_{c}") for c in non_keys]).eqNullSafe(
        F.struct(*[_col(f"_n_{c}") for c in non_keys])
    )

    op = (
        F.when(~in_old & in_new, F.lit("I"))
        .when(in_old & ~in_new, F.lit("D"))
        .when(~same, F.lit("U"))
    )
    if images:
        old_img = F.when(
            in_old, F.struct(*[_col(f"_o_{c}").alias(c) for c in payload])
        )
        new_img = F.when(
            in_new, F.struct(*[_col(f"_n_{c}").alias(c) for c in payload])
        )
        return (
            j.withColumn(op_col, op)
            .filter(F.col(op_col).isNotNull())
            .select(
                *key_cols,
                F.col(op_col),
                old_img.alias("_old"),
                new_img.alias("_new"),
            )
        )
    side = F.when(in_new, F.lit("n")).otherwise(F.lit("o"))
    out_cols = [
        F.when(side == "n", _col(f"_n_{c}")).otherwise(_col(f"_o_{c}")).alias(c)
        for c in payload
    ]
    return (
        j.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(*out_cols, F.col(op_col))
    )


def table_changes(
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
    op_col: str = "op",
    prune_buckets: bool = True,
    images: bool = False,
) -> DataFrame:
    """Rows that changed between two snapshots, classified I/U/D.

    Output schema = current payload schema of ``to_version`` plus
    ``op_col``; D rows carry the deleted row's (old) payload. Rows
    identical in both snapshots are dropped. ``key_cols`` defaults to
    the manifest's recorded merge keys (see ``_default_keys``).
    ``images=True`` emits pre/post-image structs instead of the single
    payload image (see ``snapshot_diff``).

    ``prune_buckets`` (default) restricts BOTH snapshot reads to the
    buckets whose files differ between the versions (a manifest-only
    computation), so the diff's I/O and join are O(changed data), not
    O(table) — the property that makes a change feed usable on a
    100 TB table where one batch touched a handful of buckets."""
    key_cols = _default_keys(table, key_cols)
    new_schema = table.schema(to_version)
    payload = [f.name for f in new_schema.fields]

    buckets = None
    if prune_buckets:
        buckets = sorted(changed_buckets(table, from_version, to_version))

    # align the old snapshot to the new schema BY FIELD ID where maps
    # exist (manifest.py field_ids), so a rename between the versions
    # diffs the same logical column instead of NULLing it
    m_to = table.manifest(to_version)
    m_from = table.manifest(from_version)
    # both reads interpret the pruned set under the TO-version's
    # layout (changed_buckets' contract) — significant only when an
    # evolve_layout landed between the versions
    old = _align(
        table.read(
            version=from_version,
            buckets=buckets,
            buckets_layout=m_to.num_buckets if buckets is not None else None,
        ),
        new_schema,
        src_ids=m_to.field_ids.get(m_from.current_schema_id),
        tgt_ids=m_to.field_ids.get(m_to.current_schema_id),
    )
    new = table.read(version=to_version, buckets=buckets)
    return snapshot_diff(old, new, key_cols, payload, op_col=op_col, images=images)


def _covers(have: StructType, want: StructType) -> bool:
    """True if a table with schema ``have`` can hold every ``want``
    row: each wanted field exists with the same type or a legal
    widening of it."""
    hf = {f.name: f.dataType for f in have.fields}
    for f in want.fields:
        if f.name not in hf:
            return False
        if hf[f.name] != f.dataType and (f.dataType, hf[f.name]) not in _WIDENINGS:
            return False
    return True


def _merged_schema(dst_schema: StructType, src_schema: StructType) -> StructType:
    """dst's schema evolved just enough to cover src's: existing fields
    widened where src is wider (never narrowed — the direction bug the
    old mirror had: it evolved dst toward src even when dst was newer,
    and evolve_schema rightly refused to drop/narrow), new src fields
    appended."""
    have = {f.name for f in dst_schema.fields}
    src_f = {f.name: f for f in src_schema.fields}
    out = []
    for f in dst_schema.fields:
        s = src_f.get(f.name)
        if s is not None and s.dataType != f.dataType and (
            f.dataType, s.dataType
        ) in _WIDENINGS:
            out.append(StructField(f.name, s.dataType, True))
        else:
            out.append(f)
    out.extend(f for f in src_schema.fields if f.name not in have)
    return StructType(out)


def _ensure_covers(dst: LakeTable, src_schema: StructType) -> None:
    if not _covers(dst.schema(), src_schema):
        dst.evolve_schema(_merged_schema(dst.schema(), src_schema))


def mirror_table(
    src: LakeTable,
    dst: LakeTable,
    key_cols: list[str] | None = None,
    batch_id_prefix: str = "mirror",
    per_version: bool = False,
) -> list[dict]:
    """Incrementally subscribe ``dst`` to ``src``'s change feed —
    the closed CDC loop (log → table → change feed → table), Delta's
    ``readChangeFeed`` as a subscriber. ≙ the reference's pub-sub
    fan-out consumed end-to-end: Event Grid routes each staged write
    to per-route topics and downstream systems re-ingest from there
    (eventgridsystemtopic/dex-rs-file-ingested/template.json:48-106);
    here the "topic" is the snapshot diff and the subscriber is
    another table with full exactly-once semantics.

    Catch-up is ONE composed diff last-mirrored→head applied as ONE
    merge (O(1) merges per wake-up however far the mirror lags —
    adjacent-version diffs compose because each is a full state delta),
    with the head version as the LSN: versions are monotone, so the
    strict-LSN gate gives the same commutative replay guarantees as
    the primary ingest, and the per-head batch id in ``dst``'s ledger
    makes re-mirroring a no-op (exactly-once across crashes of the
    mirror job itself). ``per_version=True`` keeps the one-merge-per-
    version loop as an audit mode (per-version lineage in the dst
    ledger; same final state by LSN monotonicity).

    Self-healing around retention: if ``expire_snapshots`` on src has
    dropped the last-mirrored version (or a fresh dst faces a src with
    expired history), the incremental diff is impossible — the mirror
    falls back to a full-state RESYNC (dst-vs-src snapshot diff,
    O(table) reads, still one merge) instead of silently skipping the
    gap, which is the divergence bug the old version loop had.

    ``key_cols`` defaults to src's recorded merge keys (bucket_key
    only as a last resort — a partial key on composite-key tables
    would pair unrelated rows; see ``_default_keys``). Schema
    evolution on src is replayed onto dst only when dst does not
    already cover src's schema (never narrowing). Call repeatedly —
    it resumes from the last mirrored version.
    """
    from dexspark.lake import manifest as mf

    key_cols = _default_keys(src, key_cols)
    versions = mf.available_versions(src.meta_dir)
    if not versions:
        return []
    head = versions[-1]
    done = {str(i) for i in dst.committed_batch_ids()}
    mirrored = last_done_version(dst, batch_id_prefix)
    if mirrored is not None and mirrored >= head:
        return []

    is_create = (
        src.manifest(versions[0]).summary.get("operation") == "create"
    )

    if per_version:
        # audit mode: one merge per version, full per-version lineage.
        # Refuses to run across a retention gap (the silent-divergence
        # bug): the chain must start at the create manifest or at an
        # already-mirrored version.
        if not is_create and (mirrored is None or mirrored not in versions):
            raise ValueError(
                "mirror gap: src history starts at version "
                f"{versions[0]} (not the create manifest) and the last "
                f"mirrored version {mirrored} is not retained — run a "
                "composed mirror_table() (it resyncs) or re-create dst"
            )
        results: list[dict] = []
        for prev, cur in zip(versions, versions[1:]):
            batch_id = f"{batch_id_prefix}-v{cur}"
            if batch_id in done:
                continue
            _ensure_covers(dst, src.schema(cur))
            feed = table_changes(src, prev, cur, key_cols=key_cols).withColumn(
                "lsn", F.lit(cur).cast("long")
            )
            info = dst.merge(
                feed,
                key_cols=key_cols,
                summary={"batch_id": batch_id, "mirrored_version": cur},
            )
            results.append(info)
        return results

    _ensure_covers(dst, src.schema(head))
    if mirrored is not None and mirrored in versions:
        feed = table_changes(src, mirrored, head, key_cols=key_cols)
        mode = "incremental"
    elif mirrored is None and is_create:
        feed = table_changes(src, versions[0], head, key_cols=key_cols)
        mode = "incremental"
    else:
        # retention gap: full-state repair diff (same classify path,
        # unpruned — both sides read in full, exactly once)
        payload = [f.name for f in dst.schema().fields]
        dst_state = dst.read()
        src_state = _align(src.read(version=head), dst.schema())
        feed = snapshot_diff(dst_state, src_state, key_cols, payload)
        mode = "resync"
    batch_id = f"{batch_id_prefix}-v{head}"
    info = dst.merge(
        feed.withColumn("lsn", F.lit(head).cast("long")),
        key_cols=key_cols,
        summary={
            "batch_id": batch_id,
            "mirrored_version": head,
            "mirror_mode": mode,
            "mirrored_from": mirrored,
        },
    )
    return [info]
