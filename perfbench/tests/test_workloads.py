"""A tiny-size run of each workload through its oracle check, the
oracle's own last-writer-wins rules, and BENCHMARK.json against the
metric names the code reports.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

import json
import os

import duckdb
import pandas as pd
import pytest

from perfbench import cdc, layers, run, suite

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from polardbx_tools_spark.session import get_spark

    os.environ["SPARK_GRAFT_SCRATCH"] = str(tmp_path_factory.mktemp("scratch"))
    # Python workers (UDF, mapInArrow entries) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


class TinyBulk(cdc.BulkCow):
    N_EVENTS, WARMUP_EVENTS, N_CONVS, BUCKETS = 3_000, 1_000, 100, 4


class TinyTail(cdc.TailMorMulti):
    N_PRELOAD, N_FILES, PER_FILE, N_CONVS, BUCKETS = 500, 3, 200, 100, 4


def _check(unit):
    assert unit.checks and all(unit.checks.values()), unit.checks
    assert unit.failed == 0 and unit.attempted == len(unit.ops) > 0
    assert unit.work_s > 0 and all(x > 0 for x in unit.ops)


def test_bulk_cow_smoke(spark, tmp_path):
    wl = TinyBulk(spark, str(tmp_path), seed=3)
    wl.warmup()
    u = wl.unit(0)
    _check(u)
    assert u.facts["write_bytes"] > 0 and u.facts["live_rows"] > 0


def test_tail_mor_multi_smoke(spark, tmp_path):
    wl = TinyTail(spark, str(tmp_path), seed=3)
    wl.warmup()
    u = wl.unit(0)
    _check(u)
    assert len(u.facts["add_batch"]) == TinyTail.N_FILES


def test_query_suite_smoke(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(suite, "TIMED_SIZE",
                        {"documents": 60, "embeddings": 60, "customer": 100, "events": 500})
    monkeypatch.setattr(suite, "WARMUP_SIZE",
                        {"documents": 30, "embeddings": 30, "customer": 50, "events": 200})
    wl = suite.QuerySuite(spark, str(tmp_path), seed=3)
    wl.warmup()
    _check(wl.unit(0))


def test_oracle_last_writer_wins_and_tombstones():
    ev = pd.DataFrame({
        "op": ["I", "U", "I", "D", "I", "X", "I"],
        "conv_id": ["a", "a", "b", "b", "c", "c", None],
        "turn_idx": [0, 0, 0, 0, 0, 0, 0],
        "text": ["a1", "a2", "b1", None, "c1", "bad", "nokey"],
        # a: same ts, the higher LSN wins; b: the delete is newest;
        # c: the malformed newer event is ignored
        "ts": pd.to_datetime([5, 5, 1, 2, 1, 9, 1], unit="s"),
        "source_lsn": [1, 2, 3, 4, 5, 6, 7],
        "source_partition": [0, 0, 1, 1, 0, 0, 0],
    })
    con = duckdb.connect()
    con.register("ev", ev)
    got = cdc.oracle_state(con, "SELECT * FROM ev").sort_values("conv_id")
    assert got["conv_id"].tolist() == ["a", "c"]
    assert got["text"].tolist() == ["a2", "c1"]
    want = got.copy()
    assert cdc.same_state(got, want)
    want.loc[want.index[0], "text"] = "changed"
    assert not cdc.same_state(got, want)


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
