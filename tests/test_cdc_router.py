"""Routed multi-table ingest: demux correctness, per-destination
exactly-once (incl. a crash between destination commits), config
fail-fast, and per-destination dead letters."""

import pyspark.sql.functions as F
import pytest

from dexspark.cdc.apply import apply_changes
from dexspark.cdc.generator import expected_final_state, gen_change_log
from dexspark.cdc.router import apply_routed
from dexspark.cdc.validate import validate_events
from dexspark.lake.table import LakeTable
from dexspark.operators.routing import routes_df

PAYLOAD_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
REJECT_SCHEMA = (
    "lsn long, op string, batch_seq long, "
    + PAYLOAD_SCHEMA
    + ", reject_reason string"
)

ROUTE_CONFIGS = [
    {"route": "t0", "message_types": ["s0"]},
    {"route": "t1", "message_types": ["s1"]},
    # s2 is deliberately unmapped → "?" fallback to 'misc'
]


def _mk_table(spark, d, schema=PAYLOAD_SCHEMA, num_buckets=4):
    from pyspark.sql.types import _parse_datatype_string

    return LakeTable.create(
        spark, d, _parse_datatype_string(schema), "conv_id", num_buckets
    )


def _stamped(log):
    """Deterministic stream id, a pure function of conv_id so each
    conversation's whole history lands in exactly one destination."""
    return log.withColumn(
        "stream_id",
        F.concat(F.lit("s"), F.pmod(F.xxhash64("conv_id"), F.lit(3)).cast("string")),
    )


def _route_of(stream: str) -> str:
    return {"s0": "t0", "s1": "t1"}.get(stream, "misc")


def _mk_dests(spark, d, routes=("t0", "t1", "misc")):
    import os

    return {r: _mk_table(spark, os.path.join(d, r)) for r in routes}


def _replay_routed(spark, tables, log, quarantines=None):
    routes = routes_df(spark, ROUTE_CONFIGS)
    out = []
    for b in sorted(
        r[0] for r in log.select("batch_seq").distinct().collect()
    ):
        out.append(
            apply_routed(
                tables,
                log.filter(F.col("batch_seq") == b),
                routes,
                batch_id=f"b{b}",
                quarantines=quarantines,
            )
        )
    return out


def test_routed_apply_matches_per_route_replay(spark, tmp_table_dir):
    log = _stamped(gen_change_log(spark, 3000, n_convs=60, n_batches=4))
    tables = _mk_dests(spark, tmp_table_dir)
    _replay_routed(spark, tables, log)
    for stream in ("s0", "s1", "s2"):
        route = _route_of(stream)
        exp = {
            tuple(r)
            for r in expected_final_state(
                log.filter(F.col("stream_id") == stream).drop("stream_id")
            ).collect()
        }
        got = {
            tuple(r)
            for r in tables[route]
            .read()
            .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
            .collect()
        }
        assert got == exp, f"route {route} diverged"


def test_routed_redelivery_noops_everywhere(spark, tmp_table_dir):
    log = _stamped(gen_change_log(spark, 1500, n_convs=40, n_batches=3))
    tables = _mk_dests(spark, tmp_table_dir)
    _replay_routed(spark, tables, log)
    versions = {r: t.current_version() for r, t in tables.items()}
    states = {r: t.read().count() for r, t in tables.items()}
    results = _replay_routed(spark, tables, log)  # full redelivery
    for res in results:
        for route, r in res["routes"].items():
            assert r.get("skipped"), (res["batch_id"], route)
    assert versions == {r: t.current_version() for r, t in tables.items()}
    assert states == {r: t.read().count() for r, t in tables.items()}


def test_crash_between_destination_commits_recovers(spark, tmp_table_dir):
    """Destination t0 committed batch b0, then the driver died before
    t1/misc — the redelivered batch must no-op on t0 and apply to the
    rest, landing on the same state as a clean run."""
    import os

    log = _stamped(gen_change_log(spark, 1500, n_convs=40, n_batches=3))
    routes = routes_df(spark, ROUTE_CONFIGS)
    b0 = log.filter(F.col("batch_seq") == 0)

    tables = _mk_dests(spark, os.path.join(tmp_table_dir, "crash"))
    # simulate the pre-crash partial fan-out: t0 alone commits b0
    apply_changes(
        tables["t0"],
        b0.filter(F.col("stream_id") == "s0").drop("stream_id"),
        batch_id="b0",
    )
    v0 = tables["t0"].current_version()
    # recovery: the full batch is redelivered to the router
    res = apply_routed(tables, b0, routes, batch_id="b0")
    assert res["routes"]["t0"]["skipped"] is True
    assert res["routes"]["t1"]["skipped"] is False
    assert tables["t0"].current_version() == v0  # no double apply
    # rest of the log, then compare against a clean fan-out
    for b in (1, 2):
        apply_routed(
            tables, log.filter(F.col("batch_seq") == b), routes, batch_id=f"b{b}"
        )
    clean = _mk_dests(spark, os.path.join(tmp_table_dir, "clean"))
    _replay_routed(spark, clean, log)
    for r in tables:
        got = {tuple(x) for x in tables[r].read().collect()}
        exp = {tuple(x) for x in clean[r].read().collect()}
        assert got == exp, f"route {r} diverged after crash recovery"


def test_route_without_destination_fails_fast(spark, tmp_table_dir):
    log = _stamped(gen_change_log(spark, 100, n_convs=10, n_batches=1))
    tables = _mk_dests(spark, tmp_table_dir, routes=("t0", "misc"))  # t1 missing
    routes = routes_df(spark, ROUTE_CONFIGS)
    with pytest.raises(ValueError, match="t1"):
        apply_routed(tables, log, routes, batch_id="b0")


def test_shared_quarantine_rejected(spark, tmp_table_dir):
    import os

    log = _stamped(gen_change_log(spark, 100, n_convs=10, n_batches=1))
    tables = _mk_dests(spark, tmp_table_dir)
    q = _mk_table(spark, os.path.join(tmp_table_dir, "q"), REJECT_SCHEMA + ", batch_id string")
    routes = routes_df(spark, ROUTE_CONFIGS)
    with pytest.raises(ValueError, match="quarantine"):
        apply_routed(
            tables, log, routes, batch_id="b0", quarantines={"t0": q, "t1": q}
        )


def test_rejects_land_in_their_destinations_quarantine(spark, tmp_table_dir):
    import os

    log = _stamped(
        gen_change_log(spark, 2000, n_convs=40, n_batches=2, bad_role_pct=10)
    )
    tables = _mk_dests(spark, tmp_table_dir)
    quars = {
        r: _mk_table(
            spark,
            os.path.join(tmp_table_dir, f"q_{r}"),
            REJECT_SCHEMA + ", batch_id string",
        )
        for r in tables
    }
    _replay_routed(spark, tables, log, quarantines=quars)
    _, rejects = validate_events(log.drop("stream_id"))
    total_rejected = rejects.count()
    assert total_rejected > 0
    seen = 0
    for stream in ("s0", "s1", "s2"):
        route = _route_of(stream)
        qrows = quars[route].read()
        n = qrows.count()
        seen += n
        # a quarantine holds ONLY its own destination's conversations
        stray = qrows.join(
            log.filter(F.col("stream_id") != stream).select("conv_id").distinct(),
            "conv_id",
            "left_semi",
        ).count()
        assert stray == 0, f"route {route} quarantine holds foreign convs"
    assert seen == total_rejected


def test_empty_slice_skips_without_ledger_entry(spark, tmp_table_dir):
    log = _stamped(gen_change_log(spark, 300, n_convs=10, n_batches=1)).filter(
        F.col("stream_id") == "s0"
    )
    tables = _mk_dests(spark, tmp_table_dir)
    routes = routes_df(spark, ROUTE_CONFIGS)
    res = apply_routed(tables, log, routes, batch_id="b0")
    assert res["routes"]["t0"]["skipped"] is False
    assert res["routes"]["t1"] == {"routed": 0, "skipped": True}
    assert "b0" not in tables["t1"].committed_batch_ids()
    # the destination stays usable: a later batch that DOES route there
    log2 = _stamped(gen_change_log(spark, 300, n_convs=10, n_batches=1, seed=7))
    apply_routed(tables, log2, routes, batch_id="b1")
    assert "b1" in tables["t1"].committed_batch_ids()


def test_concurrent_destinations_match_sequential(spark, tmp_table_dir):
    """concurrency>1 fans destinations out from driver threads; the
    result must be bit-identical to the sequential loop (destinations
    share no state), and redelivery must still no-op everywhere."""
    import os

    log = _stamped(gen_change_log(spark, 3000, n_convs=60, n_batches=3))
    routes = routes_df(spark, ROUTE_CONFIGS)
    seq = _mk_dests(spark, os.path.join(tmp_table_dir, "seq"))
    conc = _mk_dests(spark, os.path.join(tmp_table_dir, "conc"))
    for b in (0, 1, 2):
        batch = log.filter(F.col("batch_seq") == b)
        apply_routed(seq, batch, routes, batch_id=f"b{b}")
        apply_routed(conc, batch, routes, batch_id=f"b{b}", concurrency=3)
    for r in seq:
        got = {tuple(x) for x in conc[r].read().collect()}
        exp = {tuple(x) for x in seq[r].read().collect()}
        assert got == exp, f"route {r} diverged under concurrency"
    res = apply_routed(
        conc, log.filter(F.col("batch_seq") == 0), routes,
        batch_id="b0", concurrency=3,
    )
    assert all(r.get("skipped") for r in res["routes"].values())


def test_routing_on_payload_column_keeps_it(spark, tmp_table_dir):
    """type_col is stripped as transport metadata UNLESS the
    destination payload declares it — routing on a real payload column
    (here: role) must not delete that column from the stored rows."""
    import os

    log = gen_change_log(spark, 400, n_convs=10, n_batches=1)
    routes = routes_df(
        spark,
        [
            {"route": "humans", "message_types": ["user"]},
            {"route": "bots", "message_types": ["assistant", "tool", "system"]},
        ],
    )
    tables = {
        r: _mk_table(spark, os.path.join(tmp_table_dir, r))
        for r in ("humans", "bots", "misc")
    }
    res = apply_routed(tables, log, routes, batch_id="b0", type_col="role")
    assert res["routes"]["humans"]["routed"] > 0
    got = tables["humans"].read()
    assert "role" in got.columns
    assert got.filter(F.col("role") != "user").count() == 0


def test_routed_mor_with_compaction_matches_cow(spark, tmp_table_dir):
    """Routed fan-out under merge-on-read with a mid-run compaction of
    every destination: each destination's final state must equal the
    COW routed run bit-for-bit (read-time resolve ≡ write-time gate,
    across the base/delta boundary in each destination)."""
    import os

    from dexspark.cdc.router import RoutedCdcStreamReplay
    from dexspark.sources.changelog import log_schema as mk_log_schema

    log = _stamped(gen_change_log(spark, 2000, n_convs=40, n_batches=4))
    log_dir = os.path.join(tmp_table_dir, "log")
    routes = routes_df(spark, ROUTE_CONFIGS)
    mor = _mk_dests(spark, os.path.join(tmp_table_dir, "mor"))

    def replay_mor():
        RoutedCdcStreamReplay(
            spark, mor, routes, log_dir + "/*",
            os.path.join(tmp_table_dir, "cp_mor"),
            mk_log_schema("stream_id string"),
            max_files_per_trigger=1, strategy="mor",
        ).run_available()

    def land(half):
        log.filter(half).repartition(2, F.col("batch_seq")).write.mode(
            "append"
        ).partitionBy("batch_seq").parquet(log_dir)

    land(F.col("batch_seq") < 2)
    replay_mor()

    def has_deltas(t):
        return any(f.kind == "delta" for f in t.manifest().files)

    # the first half left deltas behind; folding them mid-run puts the
    # second half's deltas on top of freshly compacted base files
    assert any(has_deltas(t) for t in mor.values())
    for t in mor.values():
        t.maintain(compact_delta_depth=1)
    assert not any(has_deltas(t) for t in mor.values())
    land(F.col("batch_seq") >= 2)
    replay_mor()

    cow = _mk_dests(spark, os.path.join(tmp_table_dir, "cow"))
    RoutedCdcStreamReplay(
        spark, cow, routes, log_dir + "/*",
        os.path.join(tmp_table_dir, "cp_cow"),
        mk_log_schema("stream_id string"),
        max_files_per_trigger=1, strategy="cow",
    ).run_available()
    for r in mor:
        got = {tuple(x) for x in mor[r].read().collect()}
        exp = {tuple(x) for x in cow[r].read().collect()}
        assert got == exp, f"route {r}: MOR+compaction diverged from COW"


def test_catalog_pins_are_batch_atomic(spark, tmp_table_dir):
    """apply_routed(catalog=...): a consumer resolving through the
    catalog never sees a half-fanned-out batch — pins advance only
    after EVERY destination committed, a crash window leaves the
    previous consistent family visible, and a fully-no-op redelivery
    publishes no pin."""
    import os

    from dexspark.lake.catalog import Catalog

    log = _stamped(gen_change_log(spark, 1500, n_convs=40, n_batches=3))
    routes = routes_df(spark, ROUTE_CONFIGS)
    tables = _mk_dests(spark, tmp_table_dir)
    cat = Catalog.create(
        spark, os.path.join(tmp_table_dir, "cat"), tables
    )

    r0 = apply_routed(
        tables, log.filter(F.col("batch_seq") == 0), routes,
        batch_id="b0", catalog=cat,
    )
    assert r0["catalog_version"] == 1
    pre = {r: cat.read(r).count() for r in tables}

    # crash window: batch b1 lands on t0 only
    b1 = log.filter(F.col("batch_seq") == 1)
    apply_changes(
        tables["t0"],
        b1.filter(F.col("stream_id") == "s0").drop("stream_id"),
        batch_id="b1",
    )
    assert cat.current_version() == 1
    assert cat.read("t0").count() == pre["t0"]  # catalog: pre-batch
    assert tables["t0"].read().count() != pre["t0"]  # head: moved

    # redelivery completes the family -> ONE atomic pin advance
    r1 = apply_routed(tables, b1, routes, batch_id="b1", catalog=cat)
    assert r1["routes"]["t0"]["skipped"] is True
    assert r1["catalog_version"] == 2
    for r in tables:
        assert cat.read(r).count() == tables[r].read().count()

    # a full redelivery moves nothing and publishes no pin
    r2 = apply_routed(tables, b1, routes, batch_id="b1", catalog=cat)
    assert "catalog_version" not in r2
    assert cat.current_version() == 2


def test_routed_wap_poison_drops_family_good_publishes(spark, tmp_table_dir):
    """Catalog-level multi-table WAP (apply_routed_wap): a failing
    audit drops EVERY staged branch with zero movement of main refs or
    pins; the corrected restage under the same batch id publishes
    everywhere and advances the pins once; mid-publish crash recovery
    rides the main ledgers."""
    import os

    from dexspark.cdc.router import apply_routed_wap
    from dexspark.lake.catalog import Catalog

    log = _stamped(gen_change_log(spark, 1500, n_convs=40, n_batches=2))
    tables = _mk_dests(spark, tmp_table_dir)
    routes = routes_df(spark, ROUTE_CONFIGS)
    cat = Catalog.create(
        spark, os.path.join(tmp_table_dir, "cat"), tables
    )

    def audit(route, bt, res):
        return bt.read().filter(
            F.col("text").contains("POISON")
        ).first() is None

    b0 = log.filter(F.col("batch_seq") == 0)
    r0 = apply_routed_wap(tables, b0, routes, batch_id="w0",
                          catalog=cat, audit=audit)
    assert r0["published"]
    cat_v = cat.current_version()
    main_vs = {r: t.current_version() for r, t in tables.items()}

    b1 = log.filter(F.col("batch_seq") == 1)
    poisoned = b1.withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit("POISON"))
    )
    r1 = apply_routed_wap(tables, poisoned, routes, batch_id="w1",
                          catalog=cat, audit=audit)
    assert r1["published"] is False and r1["failed_audit"]
    assert cat.current_version() == cat_v
    for r, t in tables.items():
        assert t.current_version() == main_vs[r]
        assert t.list_branches() == []

    # corrected restage, SAME batch id
    r1b = apply_routed_wap(tables, b1, routes, batch_id="w1",
                           catalog=cat, audit=audit)
    assert r1b["published"] and r1b["catalog_version"] == cat_v + 1
    # final state equals the plain per-route LWW replay
    for stream in ("s0", "s1", "s2"):
        route = _route_of(stream)
        exp = {
            tuple(r)
            for r in expected_final_state(
                log.filter(F.col("stream_id") == stream).drop("stream_id")
            ).collect()
        }
        got = {
            tuple(r)
            for r in cat.read(route)
            .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
            .collect()
        }
        assert got == exp, f"route {route} diverged"


def test_routed_wap_mid_publish_crash_recovers(spark, tmp_table_dir):
    """Crash after SOME destinations published: their main ledgers
    carry the batch, pins unchanged. Redelivery skips them, stages +
    publishes the rest, then advances the pins once."""
    import os

    from dexspark.cdc.router import apply_routed_wap
    from dexspark.lake.catalog import Catalog
    from dexspark.operators.routing import ROUTE_COL, route_by_config

    log = _stamped(gen_change_log(spark, 1200, n_convs=30, n_batches=1))
    tables = _mk_dests(spark, tmp_table_dir)
    routes = routes_df(spark, ROUTE_CONFIGS)
    cat = Catalog.create(spark, os.path.join(tmp_table_dir, "cat"), tables)
    cat_v = cat.current_version()

    # simulate: t0 published alone (stage + publish by hand)
    stamped = route_by_config(log, routes, type_col="stream_id")
    t0_slice = stamped.filter(F.col(ROUTE_COL) == "t0").drop(
        ROUTE_COL, "stream_id"
    )
    bt = tables["t0"].create_branch("wap-w0")
    apply_changes(bt, t0_slice, batch_id="w0")
    tables["t0"].publish_branch("wap-w0", summary={"batch_id": "w0"})
    tables["t0"].drop_branch("wap-w0")
    assert cat.current_version() == cat_v  # pins never moved

    res = apply_routed_wap(tables, log, routes, batch_id="w0", catalog=cat)
    assert res["routes"]["t0"]["reason"] == "already_committed"
    assert res["published"] and res["catalog_version"] == cat_v + 1
    # every destination consistent through the catalog
    for stream in ("s0", "s1", "s2"):
        route = _route_of(stream)
        exp = expected_final_state(
            log.filter(F.col("stream_id") == stream).drop("stream_id")
        ).count()
        assert cat.read(route).count() == exp
