"""Tests of the benchmark's own checks and trace tooling (no Spark session).

Run from the root of the repository:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import USER_COLS, CowBulkUpsert  # noqa: E402

T0 = datetime.datetime(2024, 1, 1)
FEED = [  # op, op_ts, batch_seq, conv_id, turn_idx, role, text, tool, ts
    ("I", T0, 1, "c1", 0, "user", "a", None, T0),
    ("U", T0 + datetime.timedelta(seconds=1), 2, "c1", 0, "user", "b", None, T0),
    ("I", T0, 3, "c2", 0, "tool", "x", "browser", T0),
    ("D", T0 + datetime.timedelta(seconds=2), 4, "c2", 0, "tool", "x", None, T0),
    ("I", T0, 5, "c3", 1, "system", "y", None, T0),
]


@pytest.fixture
def con():
    c = oracle.connect()
    c.execute("CREATE TABLE feed (op VARCHAR, op_ts TIMESTAMP, batch_seq BIGINT, conv_id VARCHAR, "
              "turn_idx INTEGER, role VARCHAR, text VARCHAR, tool VARCHAR, ts TIMESTAMP)")
    c.executemany("INSERT INTO feed VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)", FEED)
    yield c
    c.close()


def _want(con) -> list:
    sql = oracle.LATEST_WINS_SQL.format(cols=", ".join(USER_COLS), feed="feed")
    return con.sql(f"{sql} ORDER BY conv_id, turn_idx").fetchall()


def test_latest_wins_oracle(con):
    assert _want(con) == [("c1", 0, "user", "b", None, T0), ("c3", 1, "system", "y", None, T0)]
    assert con.sql(oracle.DELETED_KEYS_SQL.format(feed="feed")).fetchall() == [("c2", 0)]


def test_final_state_with_one_changed_row_is_a_failure(con):
    checks = oracle.Checks()
    want = oracle.LATEST_WINS_SQL.format(cols=", ".join(USER_COLS), feed="feed")
    con.execute(f"CREATE TABLE got AS {want}")
    assert checks.expect_frames_equal(con, "SELECT * FROM got", want, "final state")
    assert checks.failed == 0
    con.execute("UPDATE got SET text = 'corrupted' WHERE conv_id = 'c3'")
    assert not checks.expect_frames_equal(con, "SELECT * FROM got", want, "final state")
    assert checks.failed == 1


def test_duplicated_row_is_a_failure(con):
    """EXCEPT ALL compares multisets: a row applied twice is caught."""
    checks = oracle.Checks()
    want = oracle.LATEST_WINS_SQL.format(cols=", ".join(USER_COLS), feed="feed")
    con.execute(f"CREATE TABLE got AS {want} UNION ALL SELECT * FROM ({want}) WHERE conv_id = 'c1'")
    assert not checks.expect_frames_equal(con, "SELECT * FROM got", want, "final state")


def test_point_read_with_one_changed_row_is_a_failure(con):
    """The workloads' own lookup check: live, deleted and absent keys."""
    w = CowBulkUpsert.__new__(CowBulkUpsert)
    w.con, w.checks = con, oracle.Checks()
    want = oracle.LATEST_WINS_SQL.format(cols=", ".join(USER_COLS), feed="feed")
    good = [(("c1", 0), _want(con)[:1]), (("c2", 0), []), (("nope", 9), [])]
    w.check_lookups(good, want, ["conv_id", "turn_idx"], "read_keys")
    assert w.checks.failed == 0
    bad_row = ("c1", 0, "user", "stale", None, T0)
    w.check_lookups([(("c1", 0), [bad_row])], want, ["conv_id", "turn_idx"], "read_keys")
    w.check_lookups([(("c2", 0), [("c2", 0, "tool", "x", None, T0)])], want,
                    ["conv_id", "turn_idx"], "read_keys")
    assert w.checks.failed == 2


def test_event_log_parse_and_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb:1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1000_400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000_500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1000_700},
    ]
    for stage, (ms, rec) in {0: (100, 10), 1: (300, 0), 2: (50, 5)}.items():
        for _ in range(2):
            events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                           "Task Info": {"Launch Time": 0, "Finish Time": ms, "Accumulables": [
                               {"Name": "data sent to Python workers", "Update": 7}]},
                           "Task Metrics": {"Executor Run Time": ms, "Executor CPU Time": 10**6,
                                            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
                                            "Input Metrics": {"Records Read": rec}}})
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = spans.parse_event_log(str(tmp_path))
    assert jobs[0]["group"] == "pb:1" and jobs[1]["group"] is None
    assert stages[1]["tasks"] == 2 and stages[0]["records_read"] == 20
    assert stages[2]["python_bytes"] == 14

    tracer = spans.Tracer(None, "w", enabled=False)
    outer = tracer.add("timed", 999.0, 1002.0)
    call = tracer.add("apply", 1000.0, 1000.45, parent=outer)
    later = tracer.add("lookup", 1000.45, 1001.0, parent=outer)
    attr = spans.Attribution(tracer.spans, jobs, stages)
    assert [j["group"] for j in attr.jobs_of[call]] == ["pb:1"]  # by job group
    assert len(attr.jobs_of[later]) == 1  # by interval
    assert attr.spark_s(call) == pytest.approx(0.4)
    assert attr.self_s(outer) == pytest.approx(3.0 - 1.0)
    st = attr.stage_stats(call)
    assert st["stages"] == 2 and st["tasks"] == 4 and st["records_read"] == 20
    assert len(attr.jobs(outer)) == 2


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: unit for k, (unit, _) in layers.METRICS.items()}

