"""CLI entry (python -m dexspark) + change-log source adapters."""

import json
import os

from dexspark.__main__ import main
from dexspark.cdc.generator import expected_final_state, gen_change_log
from dexspark.lake.table import LakeTable
from dexspark.sources.changelog import read_log


def test_json_source_schema_on_read(spark, tmp_table_dir):
    """Extra JSON fields ignored, missing fields -> NULL (tolerant
    schema-on-read, like the reference's minimal event parse)."""
    p = os.path.join(tmp_table_dir, "jlog")
    os.makedirs(p)
    with open(os.path.join(p, "seg0.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "lsn": 1, "op": "I", "batch_seq": 0, "conv_id": "c1",
                    "turn_idx": 0, "role": "user", "text": "hi",
                    "tool": None, "ts": "2026-01-01T00:00:00",
                    "EXTRA_FIELD": "ignored",
                }
            )
            + "\n"
        )
        fh.write(json.dumps({"lsn": 2, "op": "I", "conv_id": "c1"}) + "\n")
    df = read_log(spark, p, fmt="json")
    rows = {r.lsn: r for r in df.collect()}
    assert rows[1].text == "hi" and "EXTRA_FIELD" not in df.columns
    assert rows[2].turn_idx is None and rows[2].role is None


def test_cli_replay_status_compact_expire(spark, tmp_table_dir):
    log = gen_change_log(spark, 3000, n_convs=50, n_batches=2)
    log_dir = os.path.join(tmp_table_dir, "log")
    log.coalesce(2).write.parquet(log_dir)
    table_dir = os.path.join(tmp_table_dir, "tbl")
    cp = os.path.join(tmp_table_dir, "cp")
    q_dir = os.path.join(tmp_table_dir, "quarantine")

    rc = main(
        [
            "replay",
            "--log", log_dir,
            "--table", table_dir,
            "--checkpoint", cp,
            "--quarantine", q_dir,
            "--buckets", "8",
        ]
    )
    assert rc == 0
    t = LakeTable(spark, table_dir)
    expected = expected_final_state(log)
    got = t.read()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    assert main(["status", "--table", table_dir]) == 0
    assert main(["compact", "--table", table_dir]) == 0
    assert main(["expire", "--table", table_dir, "--keep-last", "1"]) == 0
    # table still reads correctly after maintenance
    assert t.read().count() == expected.count()

    # re-running replay with same checkpoint is a no-op (nothing new)
    rc = main(
        ["replay", "--log", log_dir, "--table", table_dir, "--checkpoint", cp]
    )
    assert rc == 0
    assert t.read().count() == expected.count()


def test_gzip_json_segments_batch_and_stream(spark, tmp_table_dir):
    """Gzip'd JSON-lines change segments decompress inside the scan —
    batch and Structured-Streaming tails read them identically."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    from dexspark.streaming.replay import CdcStreamReplay

    payload = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    log = gen_change_log(spark, 1500, n_convs=25, n_batches=2)
    gz_dir = os.path.join(tmp_table_dir, "gz")
    (
        log.repartition(2, F.col("batch_seq"))
        .write.partitionBy("batch_seq")
        .option("compression", "gzip")
        .json(gz_dir)
    )
    # files on disk really are gzip
    seg_files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(gz_dir)
        for f in fs
        if f.endswith(".json.gz")
    ]
    assert seg_files, "expected .json.gz segment files"

    # the partition column lands last in the read schema; realign
    back = read_log(spark, gz_dir, fmt="json").select(*log.columns)
    assert back.count() == 1500
    assert back.exceptAll(log).count() == 0 and log.exceptAll(back).count() == 0

    table = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "t"),
        _parse_datatype_string(payload), "conv_id", 4,
    )
    replay = CdcStreamReplay(
        spark, table, gz_dir + "/*", os.path.join(tmp_table_dir, "cp"),
        _parse_datatype_string("lsn long, op string, batch_seq long, " + payload),
        log_format="json",
    )
    replay.run_available()
    expected = expected_final_state(log)
    got = table.read()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cli_mor_replay_and_mirror(spark, tmp_table_dir):
    """CLI composition: MOR replay, a `maintain` pass that folds every
    outstanding delta, then mirror a downstream table from the change
    feed — downstream equals upstream."""
    log = gen_change_log(spark, 3000, n_convs=50, n_batches=2)
    log_dir = os.path.join(tmp_table_dir, "log")
    log.coalesce(2).write.parquet(log_dir)
    table_dir = os.path.join(tmp_table_dir, "tbl")
    mirror_dir = os.path.join(tmp_table_dir, "mir")
    cp = os.path.join(tmp_table_dir, "cp")

    rc = main(
        [
            "replay",
            "--log", log_dir,
            "--table", table_dir,
            "--checkpoint", cp,
            "--buckets", "8",
            "--strategy", "mor",
        ]
    )
    assert rc == 0
    table = LakeTable(spark, table_dir)
    assert any(f.kind == "delta" for f in table.manifest().files)
    assert main(["maintain", "--table", table_dir, "--delta-depth", "1"]) == 0
    assert not any(f.kind == "delta" for f in table.manifest().files)
    assert main(
        ["mirror", "--source", table_dir, "--table", mirror_dir, "--buckets", "4"]
    ) == 0
    src = LakeTable(spark, table_dir).read()
    dst = LakeTable(spark, mirror_dir).read()
    assert src.exceptAll(dst).count() == 0
    assert dst.exceptAll(src).count() == 0
    # idempotent second mirror run
    assert main(["mirror", "--source", table_dir, "--table", mirror_dir]) == 0
    assert LakeTable(spark, mirror_dir).read().count() == src.count()


def test_cli_reprocess_quarantine_with_fix_config(spark, tmp_table_dir):
    """Dead-letter ops loop from the CLI (VERDICT r3 item #4):
    replay quarantines bad-role rows → a declarative JSON fix spec
    remaps them → `dexspark reprocess` merges the corrected rows and
    empties the quarantine; final state equals a replay of the
    corrected log."""
    import json

    import pyspark.sql.functions as F

    log = gen_change_log(spark, 3000, n_convs=50, n_batches=2, bad_role_pct=10)
    log_dir = os.path.join(tmp_table_dir, "log")
    log.coalesce(2).write.parquet(log_dir)
    table_dir = os.path.join(tmp_table_dir, "tbl")
    q_dir = os.path.join(tmp_table_dir, "quarantine")
    cp = os.path.join(tmp_table_dir, "cp")

    rc = main(
        ["replay", "--log", log_dir, "--table", table_dir,
         "--checkpoint", cp, "--quarantine", q_dir, "--buckets", "8"]
    )
    assert rc == 0
    q = LakeTable(spark, q_dir)
    n_bad = q.read().count()
    assert n_bad > 0
    assert {r.reject_reason for r in q.read().collect()} == {"bad_role"}

    fix_path = os.path.join(tmp_table_dir, "fix.json")
    with open(fix_path, "w") as fh:
        json.dump({"remap": {"role": {"alien": "user"}}}, fh)
    rc = main(
        ["reprocess", "--table", table_dir, "--quarantine", q_dir,
         "--fix-config", fix_path, "--batch-id", "rq1"]
    )
    assert rc == 0
    # all dead letters rejoined the table; quarantine drained
    assert q.read().count() == 0
    corrected = log.withColumn(
        "role",
        F.when(F.col("role") == "alien", "user").otherwise(F.col("role")),
    )
    expected = expected_final_state(corrected)
    got = LakeTable(spark, table_dir).read()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # idempotent: re-running the same batch id is a no-op
    rc = main(
        ["reprocess", "--table", table_dir, "--quarantine", q_dir,
         "--fix-config", fix_path, "--batch-id", "rq1"]
    )
    assert rc == 0


def test_cli_delete_where(spark, tmp_table_dir, capsys):
    """CLI retention sweep: replay a log, then `dexspark delete
    --where ts:<:...` purges the old rows (value typing: the ISO
    timestamp — which itself contains colons — parses through the
    col:op:value grammar)."""
    log = gen_change_log(spark, 2000, n_convs=40, n_batches=2)
    log_dir = os.path.join(tmp_table_dir, "log")
    log.coalesce(2).write.parquet(log_dir)
    table_dir = os.path.join(tmp_table_dir, "tbl")
    cp = os.path.join(tmp_table_dir, "cp")
    assert main(
        ["replay", "--log", log_dir, "--table", table_dir,
         "--checkpoint", cp, "--buckets", "8"]
    ) == 0
    t = LakeTable(spark, table_dir)
    before = t.read()
    cut = before.selectExpr(
        "timestamp '1970-01-01' + make_interval(0,0,0,0,0,0, "
        "percentile(unix_timestamp(ts), 0.5)) AS c"
    ).first()["c"]
    want = before.filter(f"NOT (ts < timestamp '{cut}')").count()
    assert 0 < want < before.count()
    capsys.readouterr()
    rc = main(
        ["delete", "--table", table_dir,
         "--where", f"ts:<:{cut.isoformat()}"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "delete" and out["matched_rows"] > 0
    assert t.read().count() == want


def test_cli_view_refresh(spark, tmp_table_dir, capsys):
    """view-refresh creates the rollup on first run, catches up
    incrementally on later runs, and reports 'current' when a no-op."""
    from dexspark.lake.matview import _full_agg

    log = gen_change_log(spark, 3000, n_convs=50, n_batches=2)
    log_dir = os.path.join(tmp_table_dir, "log")
    log.coalesce(2).write.parquet(log_dir)
    table_dir = os.path.join(tmp_table_dir, "tbl")
    cp = os.path.join(tmp_table_dir, "cp")
    view_dir = os.path.join(tmp_table_dir, "rollup")

    assert main(
        ["replay", "--log", log_dir, "--table", table_dir,
         "--checkpoint", cp, "--buckets", "8"]
    ) == 0
    args = [
        "view-refresh", "--table", table_dir, "--view", view_dir,
        "--group-by", "conv_id",
        "--sums", '{"sum_len": "length(text)"}',
        "--buckets", "4",
    ]
    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["view_mode"] == "incremental"

    t = LakeTable(spark, table_dir)
    view = LakeTable(spark, view_dir)
    exp = _full_agg(t.read(), ["conv_id"], {"sum_len": "length(text)"})
    got = view.read().select("conv_id", "n_rows", "sum_len")
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # second run: already current
    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"skipped": "current"}


def test_cli_rollback(spark, tmp_table_dir, capsys):
    from pyspark.sql.types import StringType, StructField, StructType

    table_dir = os.path.join(tmp_table_dir, "tbl")
    schema = StructType(
        [StructField("k", StringType()), StructField("v", StringType())]
    )
    t = LakeTable.create(spark, table_dir, schema, "k", num_buckets=4)
    t.append(spark.createDataFrame([("a", "good")], schema))
    good = t.current_version()
    t.append(spark.createDataFrame([("b", "BAD")], schema))

    assert main(
        ["rollback", "--table", table_dir, "--to-version", str(good)]
    ) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "rollback"
    assert out["restored_version"] == good
    assert {(r.k, r.v) for r in t.read().collect()} == {("a", "good")}


def test_cli_branch_wap(spark, tmp_table_dir, capsys):
    from pyspark.sql.types import StringType, StructField, StructType

    table_dir = os.path.join(tmp_table_dir, "tbl")
    schema = StructType(
        [StructField("k", StringType()), StructField("v", StringType())]
    )
    t = LakeTable.create(spark, table_dir, schema, "k", num_buckets=4)
    t.append(spark.createDataFrame([("a", "main")], schema))

    assert main(["branch", "create", "--table", table_dir, "--name", "st"]) == 0
    t.branch_table("st").append(spark.createDataFrame([("b", "staged")], schema))
    assert {r.k for r in t.read().collect()} == {"a"}  # staged invisible

    assert main(["branch", "list", "--table", table_dir]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["branches"] == ["st"]

    assert main(["branch", "publish", "--table", table_dir, "--name", "st"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "publish"
    assert {r.k for r in t.read().collect()} == {"a", "b"}

    assert main(["branch", "drop", "--table", table_dir, "--name", "st"]) == 0
    assert t.list_branches() == []


def test_cli_replay_to_branch_then_publish(spark, tmp_table_dir):
    """WAP ingest from the CLI: the whole replay stages on a branch,
    main stays empty until `branch publish`."""
    log = gen_change_log(spark, 2000, n_convs=40, n_batches=2)
    log_dir = os.path.join(tmp_table_dir, "log")
    log.coalesce(2).write.parquet(log_dir)
    table_dir = os.path.join(tmp_table_dir, "tbl")
    cp = os.path.join(tmp_table_dir, "cp")

    rc = main(
        [
            "replay",
            "--log", log_dir,
            "--table", table_dir,
            "--checkpoint", cp,
            "--buckets", "8",
            "--branch", "staged",
        ]
    )
    assert rc == 0
    t = LakeTable(spark, table_dir)
    expected = expected_final_state(log)
    assert t.read().count() == 0  # nothing on main yet
    assert t.branch_table("staged").read().count() == expected.count()

    assert main(["branch", "publish", "--table", table_dir, "--name", "staged"]) == 0
    got = t.read()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cli_sigindex_refresh_and_dedup_gate(spark, tmp_table_dir, capsys):
    """sigindex-refresh creates the index on first run and catches up
    incrementally; dedup-gate screens an incoming parquet batch and
    writes the verified hit pairs."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    src_dir = os.path.join(tmp_table_dir, "docs")
    idx_dir = os.path.join(tmp_table_dir, "sigidx")
    src = LakeTable.create(
        spark, src_dir, _parse_datatype_string("doc_id bigint, text string"),
        "doc_id", 4,
    )
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
         (1, "unrelated corpus text speaking of entirely different things")],
        "doc_id bigint, text string",
    )
    src.merge(
        corpus.withColumn("op", F.lit("I")).withColumn(
            "lsn", F.lit(1).cast("long")
        ),
        key_cols=["doc_id"],
        summary={"batch_id": "c"},
    )
    args = ["sigindex-refresh", "--table", src_dir, "--index", idx_dir]
    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["index_mode"] == "incremental"
    assert main(args) == 0  # already current -> no-op
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"skipped": "current"}

    incoming_dir = os.path.join(tmp_table_dir, "incoming")
    spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu!"),
         (11, "fresh novel content with no duplicate anywhere at all")],
        "doc_id bigint, text string",
    ).write.parquet(incoming_dir)
    hits_dir = os.path.join(tmp_table_dir, "hits")
    assert main(
        ["dedup-gate", "--table", src_dir, "--index", idx_dir,
         "--incoming", incoming_dir, "--out", hits_dir]
    ) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["screened"] == 2 and out["flagged_docs"] == 1
    hits = spark.read.parquet(hits_dir)
    assert [(r.id_corpus, r.id_new) for r in hits.collect()] == [(0, 10)]


def test_cli_vecindex_refresh(spark, tmp_table_dir, capsys):
    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    src_dir = os.path.join(tmp_table_dir, "vecs")
    idx_dir = os.path.join(tmp_table_dir, "vecidx")
    src = LakeTable.create(
        spark, src_dir,
        _parse_datatype_string("vec_id bigint, embedding array<float>"),
        "vec_id", 4,
    )
    vecs = spark.createDataFrame(
        [(i, [float((i * 31 + d * 7) % 17 - 8) for d in range(8)])
         for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    src.merge(
        vecs.withColumn("op", F.lit("I")).withColumn(
            "lsn", F.lit(1).cast("long")
        ),
        key_cols=["vec_id"], summary={"batch_id": "v"},
    )
    args = ["vecindex-refresh", "--table", src_dir, "--index", idx_dir,
            "--dim", "8"]
    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["index_mode"] == "incremental"
    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"skipped": "current"}
    assert LakeTable(spark, idx_dir).read().count() == 20


def test_cli_replay_scd2_mode(spark, tmp_table_dir):
    from dexspark.cdc.scd2 import scd2_view

    log = gen_change_log(spark, 3000, n_convs=50, n_batches=2)
    log_dir = os.path.join(tmp_table_dir, "log")
    log.coalesce(2).write.parquet(log_dir)
    table_dir = os.path.join(tmp_table_dir, "hist")
    cp = os.path.join(tmp_table_dir, "cp")

    rc = main(
        [
            "replay",
            "--log", log_dir,
            "--table", table_dir,
            "--checkpoint", cp,
            "--buckets", "8",
            "--mode", "scd2",
        ]
    )
    assert rc == 0
    t = LakeTable(spark, table_dir)
    # history table carries the interval columns and its current rows
    # equal the SCD1 final state
    cols = {f.name for f in t.schema().fields}
    assert {"valid_from_lsn", "valid_to_lsn", "is_current"} <= cols
    cur = scd2_view(t.read()).filter("is_current").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    expected = expected_final_state(log).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    assert cur.exceptAll(expected).count() == 0
    assert expected.exceptAll(cur).count() == 0


def test_cli_audit_gate(spark, tmp_table_dir, capsys):
    """`dexspark audit` as a replay pre-gate: advisory-only findings
    exit 0, hard findings (payload conflicts) exit 1."""
    import pyspark.sql.functions as F

    log = gen_change_log(spark, 2000, n_convs=50, n_batches=2)
    log_dir = os.path.join(tmp_table_dir, "log")
    log.filter("lsn % 250 != 3").coalesce(2).write.parquet(log_dir)
    table_dir = os.path.join(tmp_table_dir, "tbl")
    cp = os.path.join(tmp_table_dir, "cp")
    assert main(
        ["replay", "--log", log_dir, "--table", table_dir,
         "--checkpoint", cp, "--buckets", "4"]
    ) == 0

    rc = main(["audit", "--table", table_dir, "--log", log_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["hard"] == 0 and not out["truncated"]
    gaps = [f for f in out["findings"]
            if f["scope"] == "log" and f["kind"] == "gap"]
    # dropped lsns 3, 253, ..., 1753 — eight interior single-lsn gaps
    assert len(gaps) == 8 and all(g["n"] == 1 for g in gaps)
    assert all(f["kind"] != "overlap" for f in out["findings"])

    bad_dir = os.path.join(tmp_table_dir, "badlog")
    dup = log.filter("lsn % 400 = 1").withColumn("text", F.lit("EVIL"))
    log.unionByName(dup).coalesce(2).write.parquet(bad_dir)
    rc = main(["audit", "--log", bad_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and out["hard"] == 5  # lsn 1, 401, ..., 1601

    assert main(["audit"]) == 2  # neither --table nor --log


def test_cli_bootstrap_then_replay(spark, tmp_table_dir):
    """Initial load via `dexspark bootstrap`, then the normal `replay`
    tail — final state equals a full from-scratch replay."""
    import pyspark.sql.functions as F

    from dexspark.cdc.dedup import dedupe_latest
    from dexspark.cdc.validate import REASON_COL, flag_events

    log = gen_change_log(spark, 3000, n_convs=50, n_batches=3, delete_pct=20)
    w = 999  # batch 0 covers lsns 0..999
    pre = flag_events(log.filter(F.col("lsn") <= w))
    latest = dedupe_latest(
        pre.filter(F.col(REASON_COL).isNull()), ["conv_id", "turn_idx"]
    )
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    snap_dir = os.path.join(tmp_table_dir, "snap")
    latest.filter("op <> 'D'").select(*payload).write.parquet(snap_dir)
    del_dir = os.path.join(tmp_table_dir, "dels")
    latest.filter("op = 'D'").select(
        "conv_id", "turn_idx", "lsn"
    ).write.parquet(del_dir)
    tail_dir = os.path.join(tmp_table_dir, "tail")
    log.filter(F.col("batch_seq") >= 1).coalesce(2).write.parquet(tail_dir)

    table_dir = os.path.join(tmp_table_dir, "tbl")
    assert main(
        ["bootstrap", "--table", table_dir, "--snapshot", snap_dir,
         "--watermark", str(w), "--deletes", del_dir, "--buckets", "4"]
    ) == 0
    assert main(
        ["replay", "--log", tail_dir, "--table", table_dir,
         "--checkpoint", os.path.join(tmp_table_dir, "cp"), "--buckets", "4"]
    ) == 0

    got = LakeTable(spark, table_dir).read()
    expected = expected_final_state(log)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cli_replay_routed(spark, tmp_table_dir):
    """replay-routed demuxes one log into three tables from a JSON
    route config (fallback included), resumable from the checkpoint."""
    import pyspark.sql.functions as F

    log = gen_change_log(spark, 2000, n_convs=40, n_batches=2).withColumn(
        "stream_id",
        F.concat(F.lit("s"), F.pmod(F.xxhash64("conv_id"), F.lit(3)).cast("string")),
    )
    log_dir = os.path.join(tmp_table_dir, "log")
    log.coalesce(2).write.parquet(log_dir)
    cfg = {
        "type_col": "stream_id",
        "default_route": "misc",
        "routes": [
            {"route": "t0", "message_types": ["s0"]},
            {"route": "t1", "message_types": ["s1"]},
        ],
        "tables": {
            r: os.path.join(tmp_table_dir, r) for r in ("t0", "t1", "misc")
        },
    }
    cfg_path = os.path.join(tmp_table_dir, "routes.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)

    rc = main(
        [
            "replay-routed",
            "--log", log_dir,
            "--routes", cfg_path,
            "--checkpoint", os.path.join(tmp_table_dir, "cp"),
            "--buckets", "4",
            "--extra-columns", "stream_id string",
        ]
    )
    assert rc == 0
    for stream, route in (("s0", "t0"), ("s1", "t1"), ("s2", "misc")):
        exp = expected_final_state(
            log.filter(F.col("stream_id") == stream).drop("stream_id")
        )
        got = LakeTable(spark, cfg["tables"][route]).read()
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0
    # checkpoint resume with nothing new: a clean no-op
    assert main(
        [
            "replay-routed",
            "--log", log_dir,
            "--routes", cfg_path,
            "--checkpoint", os.path.join(tmp_table_dir, "cp"),
            "--extra-columns", "stream_id string",
        ]
    ) == 0


def test_cli_constraint_lifecycle(spark, tmp_table_dir, capsys):
    """`dexspark constraint add/list/drop`: declaration round-trips via
    the CLI and a fail-mode constraint actually blocks a violating
    write."""
    import pytest
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from dexspark.lake.constraints import ConstraintViolation

    d = os.path.join(tmp_table_dir, "ct")
    schema = StructType(
        [StructField("k", StringType()), StructField("n", IntegerType())]
    )
    t = LakeTable.create(spark, d, schema, bucket_key="k", num_buckets=2)
    t.append(spark.createDataFrame([("a", 1)], schema))

    assert main(
        ["constraint", "add", "--table", d, "--name", "n_pos",
         "--expr", "n > 0"]
    ) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["validated_rows"] == 1

    assert main(["constraint", "list", "--table", d]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"n_pos": {"expr": "n > 0", "on_violation": "fail"}}

    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([("b", -1)], schema))

    assert main(["constraint", "drop", "--table", d, "--name", "n_pos"]) == 0
    t.append(spark.createDataFrame([("b", -1)], schema))
    assert t.read().count() == 2

    # status surfaces declared constraints
    main(["constraint", "add", "--table", d, "--name", "k_nn",
          "--expr", "k IS NOT NULL", "--on-violation", "drop"])
    capsys.readouterr()
    assert main(["status", "--table", d]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "k_nn" in out["constraints"]


def test_cli_profile(spark, tmp_table_dir, capsys):
    """`dexspark profile`: exact distinct counts below k, null counts."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    d = os.path.join(tmp_table_dir, "pf")
    schema = StructType(
        [StructField("k", StringType()), StructField("n", IntegerType())]
    )
    t = LakeTable.create(spark, d, schema, bucket_key="k", num_buckets=2)
    t.append(
        spark.createDataFrame(
            [("a", 1), ("b", 1), ("c", None), ("a", 2)], schema
        )
    )
    assert main(["profile", "--table", d]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 4
    assert out["columns"]["k"] == {"distinct_est": 3, "exact": True, "nulls": 0}
    assert out["columns"]["n"] == {"distinct_est": 2, "exact": True, "nulls": 1}
