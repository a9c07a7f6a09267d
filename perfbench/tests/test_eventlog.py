"""Folding a small committed Spark event log into per-layer metrics.

``data/tiny_eventlog.jsonl`` is a Spark 4.1 event log of two traced spans,
trimmed to the events and fields the fold reads:

- ``layer=features span=0``: one job, stages 2 and 3; two MapInPandas tasks
  and one final count task;
- ``layer=spatial span=1``: two jobs, stages 4, 5 and 6; a broadcast join of
  ``range(30)`` with ``range(20)`` (20 rows) feeding a MapInPandas that
  keeps the 10 even ids.
"""

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import LAYER_METRICS, SPARK_LAYERS, fold  # noqa: E402

LOG = os.path.join(HERE, "data", "tiny_eventlog.jsonl")
SPANS = [
    {"layer": "features", "id": 0, "ms": 3000.0, "rows": 40, "counts": {}},
    {"layer": "spatial", "id": 1, "ms": 1000.0, "rows": 10, "counts": {}},
]
CORES = 2


def _lines() -> list[str]:
    with open(LOG, encoding="utf-8") as f:
        return f.readlines()


@pytest.fixture(scope="module")
def folded() -> dict:
    return fold(_lines(), SPANS, CORES)


def test_every_layer_reports_every_metric(folded):
    for layer in SPARK_LAYERS:
        for metric in LAYER_METRICS:
            assert f"{layer}.{metric}" in folded
    for layer in ("session", "sources", "tiler", "dedup"):
        assert all(folded[f"{layer}.{m}"] == 0 for m in LAYER_METRICS)


def test_jobs_and_tasks_follow_the_job_description(folded):
    assert folded["features.jobs"] == 1
    assert folded["features.tasks"] == 3
    assert folded["spatial.jobs"] == 2
    assert folded["spatial.tasks"] == 4


def test_task_metrics_are_summed(folded):
    assert folded["features.executor_run_ms"] == 2507 + 2553 + 44
    assert folded["spatial.executor_run_ms"] == 15 + 287 + 310 + 42
    assert folded["features.spill_bytes"] == 0


def test_python_boundary_metrics(folded):
    assert folded["features.python_worker_ms"] == 2102 + 2203
    assert folded["features.to_python_bytes"] == 352 + 352
    assert folded["features.from_python_bytes"] == 336 + 336
    assert folded["spatial.to_python_bytes"] == 312 + 232
    assert folded["spatial.from_python_bytes"] == 240 + 192


def test_span_time_idle_cores_and_skew(folded):
    assert folded["features.busy_ms"] == 3000.0
    assert folded["features.rows_out"] == 40
    assert folded["features.idle_core_ms"] == 3000.0 * CORES - (2507 + 2553 + 44)
    # widest stage of the spatial layer is stage 5: tasks of 303 and 365 ms
    assert folded["spatial.task_skew"] == pytest.approx(365 / statistics.median([303, 365]))


def test_refine_rows_come_from_the_node_under_the_python_map(folded):
    # the join feeding the refine emitted 15 + 5 rows; 10 of them were hits
    assert folded["spatial.pip_refine_rows"] == 20
    assert folded["spatial.pip_hit_ratio"] == 0.5


def test_untraced_jobs_are_ignored():
    extra = [
        {"Event": "SparkListenerJobStart", "Job ID": 9, "Stage IDs": [9], "Properties": {}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 9,
            "Task Info": {"Launch Time": 0, "Finish Time": 5, "Accumulables": []},
            "Task Metrics": {"Executor Run Time": 5, "Executor CPU Time": 1},
        },
    ]
    lines = _lines() + [json.dumps(e) + "\n" for e in extra]
    assert fold(lines, SPANS, CORES) == fold(_lines(), SPANS, CORES)
