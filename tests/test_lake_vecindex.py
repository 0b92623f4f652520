"""Incrementally-maintained IVF vector index
(dexspark/lake/vecindex.py).

Invariants under test:
1. after any insert/update/delete sequence the index holds exactly
   the live vectors' (cell, vec_id, embedding) rows — equal to a
   from-scratch cell assignment of the source head — so
   ``ivf_topk_via_index`` equals batch ``ivf_topk`` identically;
2. a cell MOVE (update that changes the nearest centroid) retracts
   the old (cell, vec_id) row and inserts the new one in ONE merge;
   a same-cell update does not delete;
3. refresh is exactly-once and falls back to rebuild across
   retention gaps;
4. probes prune: a single-cell read scans a strict subset of files;
5. NULL embeddings are not indexed; nulling an embedding retracts.
"""

import datetime as dt
import os
import re
from decimal import Decimal

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import _parse_datatype_string

from dexspark.functions.similarity import ivf_assign_cells, ivf_topk
from dexspark.lake import LakeTable
from dexspark.lake.vecindex import (
    create_vector_index,
    ivf_topk_via_index,
    refresh_vector_index,
)

DDL = "vec_id bigint, embedding array<float>"
DIM = 8


def _vec(seed, flip=1.0):
    # deterministic unit-ish vectors; flip=-1 negates (moves the cell)
    return [float(flip) * float(((seed * 31 + d * 7) % 17) - 8) for d in range(DIM)]


def _vdf(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _mk(spark, d):
    src = LakeTable.create(
        spark, str(d / "src"), _parse_datatype_string(DDL), "vec_id", 4
    )
    idx = create_vector_index(spark, str(d / "idx"), src)
    return src, idx


def _apply(src, df, op, lsn, batch_id):
    src.merge(
        df.withColumn("op", F.lit(op)).withColumn(
            "lsn", F.lit(lsn).cast("long")
        ),
        key_cols=["vec_id"],
        summary={"batch_id": batch_id},
    )


def _index_equals_batch(src, idx):
    want = sorted(
        ivf_assign_cells(
            src.read().filter(F.col("embedding").isNotNull()), DIM
        ).collect(),
        key=lambda r: r._nid,
    )
    got = sorted(idx.read().collect(), key=lambda r: r.vec_id)
    return [(r._nid, int(r._cell), r._nvec) for r in want] == [
        (r.vec_id, int(r.cell), r.embedding) for r in got
    ]


def test_lifecycle_and_query_parity(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("vecidx")
    src, idx = _mk(spark, d)
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(40)]), "I", 1, "b1")
    assert refresh_vector_index(src, idx, dim=DIM)["index_mode"] == "incremental"
    assert _index_equals_batch(src, idx)

    # update 10 vectors by NEGATION (guaranteed different best cell
    # unless scores tie) + delete 5 + insert 5 fresh
    _apply(src, _vdf(spark, [(i, _vec(i, -1.0)) for i in range(10)]), "U", 2, "b2")
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(35, 40)]), "D", 3, "b3")
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(50, 55)]), "I", 4, "b4")
    refresh_vector_index(src, idx, dim=DIM)
    assert _index_equals_batch(src, idx)
    assert idx.read().count() == 40  # 40 - 5 + 5

    queries = _vdf(spark, [(100 + i, _vec(100 + i)) for i in range(4)]).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    via = sorted(ivf_topk_via_index(idx, queries, dim=DIM, k=3).collect())
    batch = sorted(ivf_topk(src.read(), queries, dim=DIM, k=3).collect())
    assert via == batch and len(via) > 0


def test_same_cell_update_is_pure_upsert(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("vecidx")
    src, idx = _mk(spark, d)
    _apply(src, _vdf(spark, [(0, _vec(3))]), "I", 1, "b1")
    refresh_vector_index(src, idx, dim=DIM)
    cell0 = idx.read().head().cell
    # tiny perturbation: same nearest centroid, new embedding stored
    bumped = [v * 1.01 for v in _vec(3)]
    _apply(src, _vdf(spark, [(0, bumped)]), "U", 2, "b2")
    info = refresh_vector_index(src, idx, dim=DIM)
    assert info["index_mode"] == "incremental"
    rows = idx.read().collect()
    assert len(rows) == 1 and rows[0].cell == cell0
    assert abs(rows[0].embedding[0] - bumped[0]) < 1e-4


def test_exactly_once_and_rebuild_fallback(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("vecidx")
    src, idx = _mk(spark, d)
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(10)]), "I", 1, "b1")
    assert refresh_vector_index(src, idx, dim=DIM) is not None
    assert refresh_vector_index(src, idx, dim=DIM) is None
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(10, 20)]), "I", 2, "b2")
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(20, 30)]), "I", 3, "b3")
    src.expire_snapshots(keep_last=1)
    info = refresh_vector_index(src, idx, dim=DIM)
    assert info["index_mode"] == "rebuild"
    assert _index_equals_batch(src, idx)


def test_probe_reads_prune_files(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("vecidx")
    src, idx = _mk(spark, d)
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(200)]), "I", 1, "b1")
    refresh_vector_index(src, idx, dim=DIM)
    cells = {int(r.cell) for r in idx.read().select("cell").distinct().collect()}
    assert len(cells) > 1  # the quantizer actually spreads vectors
    one = idx.read(filters=[("cell", "=", sorted(cells)[0])])
    assert 0 < len(one.inputFiles()) < len(idx.read().inputFiles())


def test_null_embedding_not_indexed_and_retracts(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("vecidx")
    src, idx = _mk(spark, d)
    _apply(
        src,
        _vdf(spark, [(0, _vec(0)), (1, None)]),
        "I", 1, "b1",
    )
    refresh_vector_index(src, idx, dim=DIM)
    assert {r.vec_id for r in idx.read().collect()} == {0}
    _apply(src, _vdf(spark, [(0, None)]), "U", 2, "b2")
    refresh_vector_index(src, idx, dim=DIM)
    assert idx.read().count() == 0


def test_create_validates_columns(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("vecidx")
    src = LakeTable.create(
        spark, str(d / "src"), _parse_datatype_string(DDL), "vec_id", 4
    )
    with pytest.raises(ValueError, match="not in source schema"):
        create_vector_index(spark, str(d / "idx"), src, vec_col="nope")


def test_buckets_for_values_matches_placement(spark, tmp_path_factory):
    """The IN-shape bucket pruner must cover exactly the buckets the
    engine placed those key values in (plus nothing for None/empty)."""
    d = tmp_path_factory.mktemp("vecidx")
    src, idx = _mk(spark, d)
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(100)]), "I", 1, "b1")
    refresh_vector_index(src, idx, dim=DIM)
    cells = sorted(
        int(r.cell) for r in idx.read().select("cell").distinct().collect()
    )
    probe = cells[: max(1, len(cells) // 2)]
    bs = idx.buckets_for_values(probe)
    got = idx.read(buckets=bs).filter(F.col("cell").isin(probe))
    want = idx.read().filter(F.col("cell").isin(probe))
    assert got.count() == want.count() > 0
    assert idx.buckets_for_values([]) == set()
    assert idx.buckets_for_values([None]) == set()

    # hash parity per key type: the bucket either helper names for a
    # key is the _bucket= directory the writer put that key's row in
    keys = {
        "string": [f"k{i}" for i in range(12)],
        "int": list(range(-6, 6)),
        "bigint": [i * 10**12 for i in range(-6, 6)],
        "date": [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(12)],
        "timestamp": [
            dt.datetime(2024, 1, 1) + dt.timedelta(hours=7 * i) for i in range(12)
        ],
        "decimal(12,3)": [Decimal(i) / 8 for i in range(-6, 6)],
    }
    for ktype, vals in keys.items():
        schema = _parse_datatype_string(f"k {ktype}, v int")
        t = LakeTable.create(spark, str(d / f"keys_{ktype[:7]}"), schema, "k", 4)
        t.append(spark.createDataFrame([(v, i) for i, v in enumerate(vals)], schema))
        m = t.manifest()
        placed = {
            r.k: int(re.search(r"/_bucket=(\d+)/", r.f).group(1))
            for r in spark.read.parquet(
                *[os.path.join(t.table_dir, f.path) for f in m.files]
            )
            .select("k", F.col("_metadata.file_path").alias("f"))
            .collect()
        }
        assert len(placed) == len(vals), ktype
        for k, b in placed.items():
            assert t.buckets_for_values([k]) == {b}, (ktype, k)
            assert t._buckets_for_keys(m, [k]) == {4: b}, (ktype, k)
        assert t.buckets_for_values(list(placed)) == set(placed.values())


def test_maintenance_only_source_version_advances_ledger(
    spark, tmp_path_factory
):
    d = tmp_path_factory.mktemp("vecidx")
    src, idx = _mk(spark, d)
    _apply(src, _vdf(spark, [(i, _vec(i)) for i in range(10)]), "I", 1, "b1")
    refresh_vector_index(src, idx, dim=DIM)
    src.compact(min_files_per_bucket=1)
    info = refresh_vector_index(src, idx, dim=DIM)
    assert info is not None and info["change_rows"] == 0
    assert refresh_vector_index(src, idx, dim=DIM) is None
    assert _index_equals_batch(src, idx)
