"""Per-file column statistics for manifest-level data skipping.

Iceberg/Delta keep min/max per data file in table metadata so a
predicate can discard whole files before the scan is planned — at
100 TB this is the difference between "read two days of segments" and
"read the table". The same idea here, sized to this manifest format:

- **Collect** at commit time from the parquet footers the writer just
  produced (the footer already holds row-group min/max — collection is
  a metadata read of O(new files per commit), never a data scan).
- **Store** on each ``DataFile`` entry as ``{col: [min, max]}`` —
  JSON-friendly (timestamps/dates as ISO strings, decoded against the
  table schema at prune time).
- **Prune** in ``LakeTable.read(filters=...)``: a file is skipped only
  when its stats PROVE no row can satisfy the conjunction. Files with
  no stats (pre-stats commits, missing column) are always kept, and
  the row-level residual filter is always applied after the scan, so
  skipping is a pure optimization that can never change results.

Deliberately conservative choices:

- Only numeric/timestamp/date/boolean columns. Parquet writers may
  TRUNCATE binary (string) min/max stats, and pyarrow does not expose
  the is_exact flags everywhere — a truncated max used as an upper
  bound would prune wrongly, so strings are simply not collected.
- Only conjunctions of simple comparisons (=, <, <=, >, >=). That is
  what file-level min/max can decide; everything richer belongs in the
  residual row filter that runs regardless.
"""

from __future__ import annotations

import datetime as _dt
import functools
import operator
from typing import Any

from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
    TimestampType,
)

_COMPARE = {
    "=": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}
OPS = tuple(_COMPARE)

_NUMERIC = (ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)


def stats_eligible(dt: DataType) -> bool:
    return isinstance(dt, _NUMERIC + (TimestampType, DateType, BooleanType))


def _norm_ts(v: Any) -> Any:
    """Timestamps are compared in naive-UTC: the session timezone is
    pinned to UTC (session.py), so a naive filter value means UTC, while
    pyarrow footer stats come back tz-aware."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _encode(v: Any) -> Any:
    if isinstance(v, _dt.datetime):
        return _norm_ts(v).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _decode(v: Any, dt: DataType) -> Any:
    if isinstance(dt, TimestampType) and isinstance(v, str):
        return _dt.datetime.fromisoformat(v)
    if isinstance(dt, DateType) and isinstance(v, str):
        return _dt.date.fromisoformat(v)
    return v


def collect_file_stats(abs_path: str, schema: StructType) -> dict[str, list]:
    """min/max per eligible column — see ``collect_file_meta``."""
    return collect_file_meta(abs_path, schema)[0]


def collect_file_meta(
    abs_path: str, schema: StructType
) -> tuple[dict[str, list], int]:
    """(min/max stats, row count) from ONE parquet footer read.

    Stats: per eligible column, all row groups folded together.
    Columns that are all-null in the file, or whose footer lacks
    stats, are omitted — absent means "cannot prune", never "empty".
    Passing the PHYSICAL schema (with system columns) also records
    ``_applied_lsn`` min/max (the file's LSN span) and ``_deleted``
    min/max — ``[false, false]`` PROVES the file tombstone-free, which
    is what lets ``count_rows()`` answer from metadata.

    Row count: the footer's num_rows — physical rows, i.e. including
    tombstones and rows a deletion vector hides."""
    import pyarrow.parquet as pq

    eligible = {f.name for f in schema.fields if stats_eligible(f.dataType)}
    md = pq.ParquetFile(abs_path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    # one stats-less row group poisons the whole file for that column:
    # its rows are unbounded
    unbounded: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in eligible or name in unbounded:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                unbounded.add(name)
                continue
            mins[name] = st.min if name not in mins else min(mins[name], st.min)
            maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
    return (
        {
            k: [_encode(mins[k]), _encode(maxs[k])]
            for k in mins
            if k not in unbounded
        },
        int(md.num_rows),
    )


def validate_filters(
    filters: list[tuple[str, str, Any]], schema: StructType
) -> None:
    names = {f.name for f in schema.fields}
    for col, op, _ in filters:
        if op not in OPS:
            raise ValueError(f"unsupported filter op {op!r} (use one of {OPS})")
        if col not in names:
            raise ValueError(f"filter column {col!r} not in table schema")


def _canon_value(v: Any, t: DataType) -> Any:
    """Coerce a filter value to its column's Python-native type when the
    coercion is LOSSLESS, so every metadata consumer (stats compare,
    bloom probe's string hash, bucket derivation, unsatisfiability
    check) sees the same canonical representation the writer saw.
    5.0 on a long column must probe as \"5\", not \"5.0\"; a lossy
    coercion (1000.5 → int, datetime with a time-of-day → date) is NOT
    applied — downstream pruning then conservatively keeps files and
    the row-level residual decides."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(t, (ByteType, ShortType, IntegerType, LongType)):
        if isinstance(v, float) and v.is_integer():
            return int(v)
        if isinstance(v, str):
            try:
                return int(v)
            except ValueError:
                # decimal-formatted integers ("1000.0") must unify too:
                # Spark's residual promotes both sides to double and
                # matches, so the metadata layer has to agree
                try:
                    f = float(v)
                    return int(f) if f.is_integer() else f
                except ValueError:
                    return v
        return v
    if isinstance(t, (FloatType, DoubleType)):
        if isinstance(v, int):
            return float(v)
        if isinstance(v, str):
            try:
                return float(v)
            except ValueError:
                return v
        return v
    if isinstance(t, TimestampType):
        if isinstance(v, _dt.datetime):
            return v
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day)
        if isinstance(v, str):
            try:
                return _dt.datetime.fromisoformat(v)
            except ValueError:
                return v
        return v
    if isinstance(t, DateType):
        if isinstance(v, _dt.datetime):
            # only midnight converts losslessly; a time-of-day predicate
            # against a date column keeps its own semantics
            return v.date() if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0) else v
        if isinstance(v, str):
            try:
                return _dt.date.fromisoformat(v)
            except ValueError:
                return v
        return v
    return v


def canonicalize_filters(
    filters: list[tuple[str, str, Any]], schema: StructType
) -> list[tuple[str, str, Any]]:
    """validate_filters + per-column value canonicalization."""
    validate_filters(filters, schema)
    types = {f.name: f.dataType for f in schema.fields}
    return [(c, op, _canon_value(v, types[c])) for c, op, v in filters]


def file_may_match(
    stats: dict[str, list], filters: list[tuple[str, str, Any]], schema: StructType
) -> bool:
    """False only when the stats PROVE the conjunction is unsatisfiable
    for every row of the file. Missing stats for a column → that
    conjunct cannot prune. NULL rows need no special case: every OPS
    comparison is null-rejecting, so a row the stats don't describe
    (nulls are excluded from parquet min/max) could not have passed the
    residual filter either."""
    types = {f.name: f.dataType for f in schema.fields}
    for col, op, v in filters:
        if col not in stats:
            continue
        v = _norm_ts(v)
        mn, mx = (_decode(x, types[col]) for x in stats[col])
        try:
            if (
                (op == "=" and (v < mn or v > mx))
                or (op == "<" and mn >= v)
                or (op == "<=" and mn > v)
                or (op == ">" and mx <= v)
                or (op == ">=" and mx < v)
            ):
                return False
        except TypeError:
            # a value canonicalization couldn't make the operands
            # comparable (e.g. a time-of-day predicate on a date
            # column) — keep the file, the residual filter decides
            continue
    return True


def _quote(name: str) -> str:
    """``name`` as a Spark SQL identifier: backtick-quoted, inner
    backticks doubled, so names holding spaces, dots or backticks
    resolve as one column."""
    return "`" + name.replace("`", "``") + "`"


def residual_condition(filters: list[tuple[str, str, Any]]) -> Column:
    """The exact row-level conjunction; always applied after the scan
    so pruning never changes results (and Catalyst still pushes it
    into the parquet reader for row-group skipping on the files that
    survive). ``filters`` must be non-empty. Each filter builds only
    its own comparison, and its column comes from ``F.expr`` (a third
    of ``F.col``'s JVM round trips), quoted so that any top-level name
    resolves as one column."""
    return functools.reduce(
        operator.and_,
        (_COMPARE[op](F.expr(_quote(col)), v) for col, op, v in filters),
    )
