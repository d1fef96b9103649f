"""The benchmark's own tests.

    python -m pytest perfbench/ -q

The end-to-end cases run every workload at sf0.01 for one rep
(``--seconds 0``), untraced and traced, through the same command the
benchmark is run with. Each takes up to a minute. At sf0.001 the cdc
window touches no household, so its rep would return before doing any
work. The rest check the trace reader, the cluster reference and the
cluster-view contract on hand-made inputs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layertrace  # noqa: E402
from run import WORKLOADS, reported_metrics  # noqa: E402

END_TO_END, PER_LAYER = reported_metrics()


def run_workload(workload: str, trace: int) -> tuple[dict, dict]:
    """(summary line, result line) of one sf0.01 run with one rep."""
    out = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "3", "--seconds", "0", "--trace", str(trace),
            "--sf", "0.01",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    summary, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return summary, result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_reports_every_end_to_end_metric(workload):
    summary, result = run_workload(workload, trace=0)
    assert result["correct"] is True
    assert (result["attempted"], result["failed"]) == (1, 0)
    assert summary["failed_ops_ratio"] == 0
    assert set(result["metrics"]) == set(END_TO_END)
    for name, unit in END_TO_END.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0
    prov = summary["provenance"]
    assert prov["timed_reps"] == 1 and prov["seed"] == 3 and prov["cores"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_attributes_every_job_to_one_span(workload):
    summary, result = run_workload(workload, trace=1)
    assert result["correct"] is True
    assert set(result["metrics"]) == set(PER_LAYER)
    for name, unit in PER_LAYER.items():
        assert result["metrics"][name]["unit"] == unit
    assert summary["trace_jobs_in_log"] > 0
    assert summary["trace_unattributed_jobs"] == 0
    assert result["metrics"]["spark.jobs"]["value"] > 0
    layers = summary["layers"]
    assert layers["spark.job_s"] <= layers["trace.job_s"]


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields}) + "\n"


def test_event_log_reader_orders_rolling_files_and_groups_by_span(tmp_path):
    app = tmp_path / "log" / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    props = {"spark.jobGroup.id": "perfbench-1"}
    # events_10 sorts before events_2 by name; the reader must use N
    (app / "events_2_local-1").write_text(
        _event("SparkListenerTaskEnd", **{
            "Stage ID": 0, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1500},
            "Task Metrics": {
                "Executor Run Time": 400, "Executor CPU Time": 2e8,
                "Output Metrics": {"Bytes Written": 7},
            },
        })
        + _event("SparkListenerStageCompleted", **{
            "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                           "Submission Time": 1000, "Completion Time": 1600},
        })
    )
    (app / "events_10_local-1").write_text(
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1700})
    )
    (app / "events_1_local-1").write_text(
        _event("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 900, "Properties": props,
        })
        + _event("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 0}, "Properties": props,
        })
    )
    log = layertrace.read_event_log(str(tmp_path / "log"))
    assert not (tmp_path / "log").exists()
    assert log["jobs"] == {0: {"group": "perfbench-1", "t0": 0.9, "t1": 1.7}}
    assert log["stages"][(0, 0)]["wrote"] is True
    (task,) = log["tasks"]
    assert task["group"] == "perfbench-1" and task["output"] == 7
    spans = [
        {"id": "perfbench-0", "name": "perfbench.rep", "parent": None, "t0": 0.8, "t1": 2.0},
        {"id": "perfbench-1", "name": "upsert.upsert_parquet", "parent": "perfbench-0",
         "t0": 0.85, "t1": 1.9},
    ]
    m = layertrace.attribute(spans, log, "perfbench-0", cores=1)
    assert m["spark.jobs"] == 1 and m["upsert.upsert_parquet.jobs"] == 1
    assert m["spark.job_s"] == pytest.approx(0.8)
    assert m["spark.driver_s"] == pytest.approx(0.4)
    assert m["upsert.upsert_parquet.write_stage_s"] == pytest.approx(0.6)
    assert m["upsert.s"] == m["upsert.self_s"] == pytest.approx(1.05)
    assert m["upsert.jobs"] == 1
    assert m["pipeline.s"] == m["pipeline.self_s"] == m["pipeline.jobs"] == 0
    assert layertrace.unattributed_jobs(spans, log) == 0
    assert layertrace.unattributed_jobs(spans[:1], log) == 1


def test_union_merges_overlapping_intervals():
    assert layertrace._union([(0, 2), (1, 3), (5, 6)]) == 4
    assert layertrace._union([]) == 0


def test_components_match_duplicate_clusters_shape():
    from workloads import components

    assert components([(2, 3), (1, 2), (5, 6)]) == [
        (1, 1, 3), (2, 1, 3), (3, 1, 3), (5, 5, 2), (6, 5, 2),
    ]
    assert components([]) == []


def test_cluster_view_contract():
    from workloads import coarsens

    batch = [(1, 1, 2), (2, 1, 2), (5, 5, 2), (6, 5, 2)]
    assert coarsens(batch, batch, changed=0)
    # a severed bridge keeps {1, 2} and {5, 6} merged: coarser, allowed
    merged = [(1, 1, 4), (2, 1, 4), (5, 1, 4), (6, 1, 4)]
    assert coarsens(merged, batch, changed=1)
    assert not coarsens(merged, batch, changed=0)
    # a batch cluster split across served clusters is never allowed
    split = [(1, 1, 2), (2, 2, 1), (5, 5, 2), (6, 5, 2)]
    assert not coarsens(split, batch, changed=5)
