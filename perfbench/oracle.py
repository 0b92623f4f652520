"""Correctness checks, computed by the benchmark independently of the
engine's own pipeline.

Every check returns ``(ok, detail)`` and counts as one operation toward
``failed_op_share``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from workloads import PAYLOAD_COLS

ALIEN = "alien"


def valid_events(log: DataFrame) -> DataFrame:
    """The events the validator must accept. The generator injects bad
    rows only as ``role='alien'``; the role check exempts deletes, so
    an alien-role delete stays valid."""
    return log.filter((F.col("role") != F.lit(ALIEN)) | (F.col("op") == F.lit("D")))


def injected_rejects(log: DataFrame) -> int:
    return log.filter((F.col("role") == F.lit(ALIEN)) & (F.col("op") != F.lit("D"))).count()


def expected_state(log: DataFrame) -> DataFrame:
    from dexspark.cdc.generator import expected_final_state

    return expected_final_state(log, valid_only=valid_events(log))


def _digest(df: DataFrame) -> tuple[int, int]:
    row = df.select(*PAYLOAD_COLS).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*PAYLOAD_COLS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def table_matches(actual: DataFrame, expected: DataFrame) -> tuple[bool, str]:
    """Multiset equality by row count plus an order-independent sum of
    per-row hashes over every payload column."""
    a, e = _digest(actual), _digest(expected)
    return a == e, f"rows/hash actual={a} expected={e}"


def rows_by_key(rows, key: str = "conv_id") -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r[key], []).append(tuple(r[c] for c in PAYLOAD_COLS))
    return {k: sorted(v, key=repr) for k, v in out.items()}


def expected_rows_for_keys(expected: DataFrame, keys: list[str]) -> dict:
    return rows_by_key(expected.filter(F.col("conv_id").isin(keys)).collect())


def point_read_matches(got_rows, want: dict, key: str) -> bool:
    return rows_by_key(got_rows).get(key, []) == want.get(key, [])


def rollup_matches(view: DataFrame, table: DataFrame) -> tuple[bool, str]:
    """The incrementally refreshed rollup equals a full recompute."""
    want = table.groupBy("role").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("turn_idx").cast("long")).alias("sum_turn"),
        F.sum(F.length("text").cast("long")).alias("sum_text_len"),
    )
    cols = ["role", "n_rows", "sum_turn", "sum_text_len"]
    got = sorted(tuple(r) for r in view.select(*cols).collect())
    exp = sorted(tuple(r) for r in want.select(*cols).collect())
    return got == exp, f"rollup actual={got} expected={exp}"
