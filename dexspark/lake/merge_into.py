"""General MERGE INTO — the full ANSI/Delta-style clause surface.

``LakeTable.merge`` is the CDC hot path: op-driven, LSN-gated,
full-row upserts. This module supplies the USER-facing statement the
lakehouse formats expose as ``MERGE INTO`` (Delta `merge`, Iceberg
`MERGE INTO`, ≙ the reference's config-driven routing of one incoming
record set into per-disposition actions, RouteIngestedFile.kt:47-63 —
here the dispositions are declarative clauses instead of containers):

    WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE
    WHEN NOT MATCHED [AND cond] THEN INSERT ...
    WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE

Semantics (ANSI):

- clauses within a section are evaluated IN ORDER, first match wins;
  a row matched by no clause passes through unchanged (target) or is
  ignored (source).
- a source set with duplicate keys is an error (the Delta
  "multiple source rows matched" rule) — checked up front.
- conditions and assignment values are SQL expressions over the
  aliases ``t`` (target row) and ``s`` (source row).

Interaction with the CDC machinery (documented contract):

- DELETE is physical (like ``delete_where``) — MERGE INTO is a user
  statement, not a replayed event, so no tombstone is left behind.
- CDC tombstones in the target are NOT matchable rows (the key is
  deleted): a source row hitting one goes to the NOT MATCHED section,
  and a firing INSERT **replaces** the tombstone. Tombstones
  untouched by the statement carry through unchanged.
- updated/inserted rows are stamped ``_applied_lsn = lsn`` (statement
  LSN, default 0). When mixing MERGE INTO with ongoing CDC replay,
  pass an ``lsn`` beyond the log's high-water mark or a redelivered
  old event can out-rank the manual edit.

Scale shape: ONE full-outer shuffle join of the source against only
the AFFECTED buckets (source-key buckets; all buckets only when a NOT
MATCHED BY SOURCE clause forces a full-target pass), clause logic as
pure codegen CASE expressions, then the standard COW bucket rewrite +
optimistic-retry commit. No UDF, no driver-side row work.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

Clause = tuple  # (kind, condition_sql_or_None, assignments_dict_or_None)


def _check_clauses(section: str, clauses, allowed: set[str]) -> list[Clause]:
    out = []
    for cl in clauses:
        kind, cond, assigns = cl
        if kind not in allowed:
            raise ValueError(f"{section}: clause kind {kind!r} not in {allowed}")
        if kind == "delete" and assigns:
            raise ValueError(f"{section}: DELETE takes no assignments")
        if kind == "update" and section == "when_not_matched_by_source" and not assigns:
            raise ValueError(
                f"{section}: UPDATE needs explicit assignments "
                "(source columns are NULL here)"
            )
        out.append((kind, cond, assigns))
    return out


def merge_into(
    table,
    source: DataFrame,
    key_cols: list[str],
    when_matched: list[Clause] = (),
    when_not_matched: list[Clause] = (),
    when_not_matched_by_source: list[Clause] = (),
    lsn: int = 0,
    summary: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Execute the MERGE statement against ``table``; returns commit
    info. See module docstring for semantics."""

    wm = _check_clauses("when_matched", when_matched, {"update", "delete"})
    wnm = _check_clauses("when_not_matched", when_not_matched, {"insert"})
    wnmbs = _check_clauses(
        "when_not_matched_by_source", when_not_matched_by_source,
        {"update", "delete"},
    )
    if not (wm or wnm or wnmbs):
        raise ValueError("MERGE needs at least one clause")

    declared = table.manifest().properties.get("merge_keys")
    if declared and declared != ",".join(key_cols):
        raise ValueError(f"merge key mismatch: table uses {declared!r}")

    # ANSI cardinality rule + key sanity, before any rewrite
    null_key = F.lit(False)
    for k in key_cols:
        null_key = null_key | F.col(k).isNull()
    if not source.filter(null_key).isEmpty():
        raise ValueError("MERGE source has NULL key columns")
    dup = (
        source.groupBy(*[F.col(k) for k in key_cols])
        .count().filter(F.col("count") > 1)
    )
    if not dup.isEmpty():
        raise ValueError(
            "MERGE source has duplicate keys (a target row would match "
            "multiple source rows)"
        )

    source = source.persist()
    try:
        return table._transact(
            lambda m: _attempt(
                table, m, source, key_cols, wm, wnm, wnmbs, lsn, summary
            )
        )
    finally:
        source.unpersist()


def _attempt(table, m, source, key_cols, wm, wnm, wnmbs, lsn, summary):
    from dexspark.lake.table import (
        BUCKET_COL, SYS_DELETED, SYS_LSN, _align, _with_system,
    )

    current = table.schema(m.version)
    data_cols = [f.name for f in current.fields]
    src_cols = set(source.columns)

    src = source.withColumn(BUCKET_COL, table._bucket_expr(m))
    src_buckets = {
        int(r[BUCKET_COL]) for r in src.select(BUCKET_COL).distinct().collect()
    }
    if wnmbs:
        # NOT MATCHED BY SOURCE inspects every stored row
        affected = src_buckets | set(range(m.num_buckets))
    else:
        affected = src_buckets
    # closure-expand under mixed layouts (identity otherwise): the
    # rewrite must replace whole key-space classes so old-layout files
    # sharing keys with the source migrate with it (lake/layout.py)
    from dexspark.lake import layout as lake_layout

    affected, members = lake_layout.close_buckets(
        affected, m.files, m.num_buckets
    )
    if not affected:
        info = {"operation": "merge_into", "affected_buckets": [],
                "change_rows": 0, **(summary or {})}
        table._commit_delta(m, set(), [], info)
        return info

    target = table.read(version=m.version, buckets=affected, include_system=True)
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    s = src.drop(BUCKET_COL).withColumn("_s_present", F.lit(True)).alias("s")
    on = None
    for k in key_cols:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        on = c if on is None else (on & c)
    fo = t.join(s, on=on, how="full_outer")

    t_here = F.coalesce(F.col("t._t_present"), F.lit(False))
    s_here = F.coalesce(F.col("s._s_present"), F.lit(False))
    t_tomb = t_here & F.coalesce(F.col(f"t.{SYS_DELETED}"), F.lit(False))
    is_matched = t_here & ~t_tomb & s_here
    # a tombstoned key is NOT a matchable row: its source row inserts
    is_srconly = s_here & (~t_here | t_tomb)
    is_tonly = t_here & ~t_tomb & ~s_here

    def chain(clauses, prefix, fallthrough):
        act = None
        for i, (kind, cond, _a) in enumerate(clauses):
            c = F.expr(cond) if cond is not None else F.lit(True)
            step = F.when(c, F.lit(f"{prefix}{i}_{kind}"))
            act = step if act is None else act.when(c, F.lit(f"{prefix}{i}_{kind}"))
        return act.otherwise(fallthrough) if act is not None else fallthrough

    action = (
        F.when(is_matched, chain(wm, "m", F.lit("keep")))
        .when(is_srconly, chain(wnm, "i",
                                F.when(t_tomb, F.lit("keep")).otherwise(F.lit("drop"))))
        .when(is_tonly, chain(wnmbs, "n", F.lit("keep")))
        .otherwise(F.lit("keep"))  # untouched tombstones
    )
    fo = fo.withColumn("_action", action)

    is_insert = F.col("_action").startswith("i")
    is_write = is_insert | F.col("_action").endswith("_update")

    def value_of(col: str):
        tc, sc = F.col(f"t.{col}"), (F.col(f"s.{col}") if col in src_cols else None)
        base = F.coalesce(tc, sc) if (col in key_cols and sc is not None) else tc
        cases = []
        for prefix, clauses in (("m", wm), ("i", wnm), ("n", wnmbs)):
            for i, (kind, _c, assigns) in enumerate(clauses):
                if kind == "delete":
                    continue
                aid = f"{prefix}{i}_{kind}"
                if assigns and col in assigns:
                    cases.append((aid, F.expr(assigns[col])))
                elif assigns is None and prefix in ("m", "i"):
                    # UPDATE SET * / INSERT * — take the source value
                    if sc is not None and col not in key_cols:
                        cases.append((aid, sc))
                    elif prefix == "i" and sc is None:
                        cases.append((aid, F.lit(None)))
                elif assigns is not None and prefix == "i" and col not in assigns:
                    # explicit INSERT list: unassigned non-key column → NULL
                    if col not in key_cols:
                        cases.append((aid, F.lit(None)))
        expr = None
        for aid, v in cases:
            w = F.when(F.col("_action") == aid, v)
            expr = w if expr is None else expr.when(F.col("_action") == aid, v)
        return (expr.otherwise(base) if expr is not None else base).alias(col)

    out_cols = [value_of(c) for c in data_cols]
    out_cols.append(
        F.when(is_write, F.lit(lsn).cast("long"))
        .otherwise(F.col(f"t.{SYS_LSN}")).alias(SYS_LSN)
    )
    out_cols.append(
        F.when(is_write, F.lit(False))
        .otherwise(F.coalesce(F.col(f"t.{SYS_DELETED}"), F.lit(False)))
        .alias(SYS_DELETED)
    )
    kept = fo.filter(
        (F.col("_action") == "keep")
        | F.col("_action").endswith("_update")
        | is_insert
    ).select(*out_cols, is_write.alias("_written"))

    # "fail"-mode CHECK constraints bind to every writer, including the
    # user MERGE statement: enforce on the rows the statement writes
    # (updated/inserted) — carried-over rows satisfied them at their own
    # write time. One aggregate job on this cold path; nothing commits
    # on violation.
    table._check_constraints_job(
        kept.filter(F.col("_written")),
        m,
        f"merge_into {table.table_dir}",
    )
    kept = kept.drop("_written")

    current_sys = _with_system(current)
    removed = {f.path for f in members}
    new_files = table._write_data(
        _align(kept, current_sys), m, n_buckets_hint=len(affected),
        build_blooms=False,
    )
    info = {
        "operation": "merge_into",
        "affected_buckets": sorted(affected),
        "affected_layout": m.num_buckets,
        "clauses": {
            "matched": len(wm), "not_matched": len(wnm),
            "not_matched_by_source": len(wnmbs),
        },
        **(summary or {}),
    }
    table._commit_delta(m, removed, new_files, info, affected_buckets=affected)
    return info
