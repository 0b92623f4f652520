"""The benchmark's own tests: smoke runs, the oracle, the manifest and
the log fingerprint.

    python3 -m pytest perfbench/tests -q

Smoke runs start one Spark process per workload at a tiny scale, so
the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run as bench  # noqa: E402
from workloads import SEED_SPACE, WORKLOADS  # noqa: E402

SMOKE = ["--seconds", "1", "--scale", str(bench.SMOKE_SCALE)]


def _manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_manifest_is_generated_from_the_code():
    assert _manifest() == bench.manifest_doc()


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert bench.tail([float(i) for i in range(1, 41)]) == (30.0, 75.0)
    # too few samples for a percentile above the median: the maximum
    assert bench.tail([float(i) for i in range(19, 0, -1)]) == (19.0, 100.0)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_is_correct_and_reports_the_manifest_metrics(workload):
    res = _run("--workload", workload, "--seed", "3", "--trace", "0", *SMOKE)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _manifest()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_smoke_run_reports_every_per_layer_metric():
    res = _run("--workload", "trickle_mor", "--seed", "3", "--trace", "1", *SMOKE)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in _manifest()["per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["streaming.triggers"] == min(WORKLOADS["trickle_mor"].segments, 3)
    assert m["cdc.validate.rejected"] > 0 and m["lake.matview.refresh_s"] > 0
    assert abs(m["trace.self_time_closure"] - 1.0) < 0.05


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from dexspark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_same_seed_same_fingerprint(spark, tmp_path):
    from workloads import fingerprint, read_log, recorded_fingerprint, write_log

    w = WORKLOADS["trickle_mor"].scaled(bench.SMOKE_SCALE)
    fps = []
    for i, seed in enumerate((5, 5, 6, 5 + SEED_SPACE)):
        d = str(tmp_path / f"log{i}")
        write_log(spark, w, seed, d)
        fps.append(fingerprint(read_log(spark, d)))
    assert fps[0] == fps[1] == fps[3]
    assert fps[0] != fps[2]
    assert fps[0] == recorded_fingerprint(w, 5)


def test_oracle_fails_on_a_table_with_one_row_dropped(spark, tmp_path):
    from pyspark.sql.types import _parse_datatype_string

    import oracle
    from dexspark.cdc.apply import apply_changes
    from dexspark.lake.table import LakeTable
    from workloads import PAYLOAD_DDL, read_log, write_log

    w = WORKLOADS["trickle_mor"].scaled(bench.SMOKE_SCALE)
    write_log(spark, w, 1, str(tmp_path / "log"))
    log = read_log(spark, str(tmp_path / "log"))
    t = LakeTable.create(spark, str(tmp_path / "t"), _parse_datatype_string(PAYLOAD_DDL), "conv_id", 4)
    apply_changes(t, log, batch_id="all")
    expected = oracle.expected_state(log)
    assert oracle.table_matches(t.read(), expected)[0]

    victim = t.read().orderBy("conv_id", "turn_idx").first()
    t.delete_where([("conv_id", "=", victim["conv_id"]), ("turn_idx", "=", victim["turn_idx"])])
    ok, detail = oracle.table_matches(t.read(), expected)
    assert not ok, detail
