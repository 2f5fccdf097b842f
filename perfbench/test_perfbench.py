"""Self-test of the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402
from oracle import Oracle  # noqa: E402


def _task(stage, run_ms, *, cpu_ns=0, gc_ms=0, sw=0, sw_ns=0, local_read=0,
          remote_read=0, wait_ms=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {
                "Fetch Wait Time": wait_ms,
                "Remote Bytes Read": remote_read,
                "Local Bytes Read": local_read,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw, "Shuffle Write Time": sw_ns},
        },
    }


def _stage(stage, submitted_ms):
    info = {"Stage ID": stage, "Stage Attempt ID": 0}
    if submitted_ms is not None:
        info["Submission Time"] = submitted_ms
        info["Completion Time"] = submitted_ms + 100
    return {"Event": "SparkListenerStageCompleted", "Stage Info": info}


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _task(0, 100, cpu_ns=50_000_000, gc_ms=10, sw=1000),
    _task(0, 300, cpu_ns=150_000_000, sw=3000, sw_ns=20_000_000),
    _stage(0, 1_000_500),
    _task(1, 200, local_read=2500, remote_read=1500, wait_ms=40, spill=7),
    _stage(1, 1_003_000),
    _stage(2, None),  # skipped: its map output was reused
    _task(3, 50),
    _stage(3, 1_011_000),
]


def test_event_log_parser_reads_stages_and_task_metrics():
    stages = tr.parse_event_log(json.dumps(e) for e in CANNED)
    assert [s.stage_id for s in stages] == [0, 1, 3]
    assert stages[0].submitted == pytest.approx(1000.5)
    t = tr.stage_totals(stages[:2])
    assert t["run_s"] == pytest.approx(0.6)
    assert t["cpu_s"] == pytest.approx(0.2)
    assert t["gc_s"] == pytest.approx(0.01)
    assert t["shuffle_write_bytes"] == 4000
    assert t["shuffle_write_s"] == pytest.approx(0.02)
    assert t["shuffle_read_bytes"] == 4000
    assert t["fetch_wait_s"] == pytest.approx(0.04)
    assert t["spill_bytes"] == 7


def _spans():
    # root 1000..1010 > child 1002..1005 > grandchild 1003.5..1004
    return [
        tr.Span(0, "plans.run_stream", None, 1000.0, 1010.0),
        tr.Span(1, "operators.apply", 0, 1002.0, 1005.0),
        tr.Span(2, "lake.commit", 1, 1003.5, 1004.0),
        tr.Span(3, "lake.read", None, 1010.5, 1011.5),
    ]


def test_stage_goes_to_innermost_open_span():
    stages = tr.parse_event_log(json.dumps(e) for e in CANNED)
    by = tr.attribute(_spans(), stages)
    assert [s.stage_id for s in by[0]] == [0]  # 1000.5: only the root is open
    assert [s.stage_id for s in by[1]] == [1]  # 1003.0: the child is innermost
    assert [s.stage_id for s in by[3]] == [3]
    assert 2 not in by and -1 not in by
    late = tr.Stage(9, 0, 2000.0)
    assert tr.attribute(_spans(), [late]) == {-1: [late]}


def test_self_time_subtracts_direct_children_only():
    st = tr.self_times(_spans())
    assert st[0] == pytest.approx(10.0 - 3.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(0.5)
    assert sum(st.values()) == pytest.approx(11.0)


def test_layer_table_accounts_for_the_wall():
    lt = tr.layer_table(_spans(), wall_s=12.0)
    assert lt["plans"] == pytest.approx(7.0)
    assert lt["operators"] == pytest.approx(2.5)
    assert lt["lake"] == pytest.approx(1.5)
    assert lt["unattributed"] == pytest.approx(1.0)
    assert lt["attributed_share"] == pytest.approx(11.0 / 12.0)


def test_task_skew_is_median_of_stage_max_over_median():
    stages = [
        tr.Stage(0, 0, 0, [{"run_ms": 10}, {"run_ms": 10}, {"run_ms": 40}]),
        tr.Stage(1, 0, 0, [{"run_ms": 5}, {"run_ms": 10}]),
        tr.Stage(2, 0, 0, [{"run_ms": 99}]),  # one task: no skew to speak of
    ]
    assert tr.task_skew(stages) == pytest.approx((4.0 + 10 / 7.5) / 2)
    assert tr.task_skew([]) == 1.0


def test_recorder_wraps_and_restores_nesting():
    rec = tr.Recorder()

    def inner(x):
        return x + 1

    w_inner = rec.wrap("lake.commit", inner, after=lambda s, a, out, ctx: s.info.update(out=out))

    def outer(x):
        return w_inner(x) * 2

    assert rec.wrap("operators.apply", outer)(1) == 4
    apply, commit = rec.spans
    assert apply.parent is None and commit.parent == apply.sid
    assert commit.info == {"out": 2}
    assert apply.start <= commit.start <= commit.end <= apply.end


def _write_wal(root, rows_by_epoch):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn", "epoch"]
    for e, rows in rows_by_epoch.items():
        d = os.path.join(root, f"epoch={e}")
        os.makedirs(d)
        data = {c: [r[i] for r in rows] for i, c in enumerate(cols[:-1])}
        data["ts"] = pa.array(data["ts"], pa.timestamp("us", tz="UTC"))
        data["turn_idx"] = pa.array(data["turn_idx"], pa.int32())
        data["epoch"] = pa.array([e] * len(rows), pa.int32())
        pq.write_table(pa.table(data), os.path.join(d, "part-0.parquet"))


def test_oracle_lww_fold_ties_deletes_and_conservation(tmp_path):
    wal = str(tmp_path / "wal")
    _write_wal(wal, {
        0: [
            ("a", 0, "user", "x", None, 1, "I", 1),
            ("a", 0, "user", "y", None, 1, "U", 1),  # same lsn: text 'y' wins
            ("b", 1, "tool", "z", "bash", 2, "I", 2),
        ],
        1: [
            ("b", 1, None, None, None, 3, "D", 3),
            ("a", 0, "user", "old", None, 0, "U", 0),  # late, loses
        ],
    })
    o = Oracle(wal)
    want = o.con.execute("SELECT conv_id, text FROM expected").fetchall()
    assert want == [("a", "y")]
    state = pa.table({
        "conv_id": ["a"], "turn_idx": pa.array([0], pa.int32()), "role": ["user"],
        "text": ["y"], "tool": pa.array([None], pa.string()),
        "ts": pa.array([1], pa.timestamp("us", tz="UTC")),
    })
    assert o.check_state(state) is None
    assert "1 unexpected" in o.check_state(state.set_column(3, "text", pa.array(["x"])))
    assert o.check_conservation({0: 2, 1: 2}) is None
    assert o.check_conservation({0: 3, 1: 2}) is not None  # nothing folded
    assert o.check_conservation({0: 2}) is not None  # an epoch missing
    o.close()


def test_benchmark_json_matches_what_run_prints():
    import run
    import workloads

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
