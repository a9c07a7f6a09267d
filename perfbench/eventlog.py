"""Spark's own event log, captured around traced spans and folded into
per-layer metrics.

The benchmark attaches Spark's ``EventLoggingListener`` (uncompressed, one
file, UI off) to the running context only while it traces, so the untraced
iterations of the same process run without it. Every traced call runs under
a job description ``layer=<layer> span=<id>``; :func:`fold` maps each job,
stage and task back to that layer through the description.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from collections.abc import Iterable
from pathlib import Path

#: the Spark layers whose jobs the event log attributes
SPARK_LAYERS = ("session", "sources", "features", "tiler", "spatial", "dedup")

#: metric suffix -> unit, for every Spark layer
LAYER_METRICS = {
    "busy_ms": "ms",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "python_worker_ms": "ms",
    "to_python_bytes": "bytes",
    "from_python_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "jobs": "count",
    "tasks": "count",
    "task_skew": "ratio",
    "idle_core_ms": "ms",
    "rows_out": "count",
}

_DESC_PREFIX = "layer="
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"


def job_description(layer: str, span_id: int) -> str:
    return f"{_DESC_PREFIX}{layer} span={span_id}"


def _parse_description(desc: str | None) -> tuple[str, int] | None:
    if not desc or not desc.startswith(_DESC_PREFIX):
        return None
    layer, _, span = desc[len(_DESC_PREFIX) :].partition(" span=")
    return layer, int(span)


class EventLog:
    """Spark's ``EventLoggingListener`` on a live context, attachable and
    detachable so only the traced windows are logged. :meth:`close` stops
    the writer; the log is complete only after it."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        jvm = sc._jvm
        conf = (
            self._sc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        os.makedirs(log_dir, exist_ok=True)
        self.log_dir = log_dir
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId() + "-trace",
            jvm.scala.Option.empty(),
            jvm.java.net.URI(Path(log_dir).resolve().as_uri()),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._attached = False

    def attach(self) -> None:
        if not self._attached:
            self._sc.addSparkListener(self._listener)
            self._attached = True

    def detach(self) -> None:
        if self._attached:
            # events are delivered asynchronously: let the bus drain first so
            # the tail of the traced window is not dropped
            self._sc.listenerBus().waitUntilEmpty(30_000)
            self._sc.removeSparkListener(self._listener)
            self._attached = False

    def close(self) -> list[str]:
        """Detach, stop the writer and return the log's lines."""
        self.detach()
        self._listener.stop()
        lines: list[str] = []
        for name in sorted(os.listdir(self.log_dir)):
            with open(os.path.join(self.log_dir, name), encoding="utf-8") as f:
                lines.extend(f)
        return lines


def _plan_nodes(info: dict) -> Iterable[dict]:
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _rows_metric_ids(node: dict) -> list[int]:
    """Accumulator ids of the nearest descendants of ``node`` that count
    output rows: the rows flowing into ``node``."""
    ids = []
    for child in node.get("children", []):
        own = [m["accumulatorId"] for m in child.get("metrics", []) if m["name"] == _ROWS]
        ids.extend(own if own else _rows_metric_ids(child))
    return ids


def _top_python_map(info: dict) -> dict | None:
    """The MapInPandas node closest to the plan root (breadth first)."""
    queue = [info]
    while queue:
        node = queue.pop(0)
        if node.get("nodeName") == "MapInPandas":
            return node
        queue.extend(node.get("children", []))
    return None


def fold(lines: Iterable[str], spans: list[dict], cores: int) -> dict[str, float]:
    """Fold event-log lines into ``<layer>.<metric>`` values.

    ``spans`` are the benchmark's own records: ``{"layer", "id", "ms",
    "rows"}`` plus optional ``"counts"``. Span self time is the span's
    duration (the benchmark's spans do not nest). Every Spark layer gets
    every metric of :data:`LAYER_METRICS`, zero where the layer did not
    run. ``spatial.pip_refine_rows`` is the row count into the top
    MapInPandas node (the ray-cast refine) of the spatial layer's SQL
    executions."""
    job_layer: dict[int, str] = {}
    stage_layer: dict[int, str] = {}
    exec_layer: dict[int, str] = {}
    plans: dict[int, list[dict]] = defaultdict(list)
    metric_type: dict[int, str] = {}
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            parsed = _parse_description(props.get("spark.job.description"))
            if parsed is None:
                continue
            layer = parsed[0]
            job_layer[ev["Job ID"]] = layer
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
            if "spark.sql.execution.id" in props:
                exec_layer.setdefault(int(props["spark.sql.execution.id"]), layer)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            plans[ev["executionId"]].append(ev["sparkPlanInfo"])
            for node in _plan_nodes(ev["sparkPlanInfo"]):
                for m in node.get("metrics", []):
                    metric_type[m["accumulatorId"]] = m.get("metricType", "sum")

    refine_ids: set[int] = set()
    for exec_id, versions in plans.items():
        if exec_layer.get(exec_id) != "spatial":
            continue
        # adaptive execution re-plans: take the refine input from every version
        for info in versions:
            top = _top_python_map(info)
            if top is not None:
                refine_ids.update(_rows_metric_ids(top))

    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_task_ms: dict[int, list[float]] = defaultdict(list)
    refine_rows = 0
    for ev in tasks:
        layer = stage_layer.get(ev["Stage ID"])
        if layer is None:
            continue
        tm = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        a = agg[layer]
        a["tasks"] += 1
        a["executor_run_ms"] += tm.get("Executor Run Time", 0)
        a["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        a["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        a["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        stage_task_ms[ev["Stage ID"]].append(float(info["Finish Time"] - info["Launch Time"]))
        for acc in info.get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if upd is None:
                continue
            if name == _PY_RUN:
                scale = 1e-6 if metric_type.get(acc["ID"]) == "nsTiming" else 1.0
                a["python_worker_ms"] += float(upd) * scale
            elif name == _PY_SENT:
                a["to_python_bytes"] += float(upd)
            elif name == _PY_RECV:
                a["from_python_bytes"] += float(upd)
            elif acc["ID"] in refine_ids:
                refine_rows += int(upd)

    for layer in job_layer.values():
        agg[layer]["jobs"] += 1
    # widest stage per layer: most tasks, then most total task time
    widest: dict[str, tuple[int, float, list[float]]] = {}
    for sid, times in stage_task_ms.items():
        layer = stage_layer[sid]
        key = (len(times), sum(times), times)
        if layer not in widest or key[:2] > widest[layer][:2]:
            widest[layer] = key

    out: dict[str, float] = {}
    for layer in SPARK_LAYERS:
        a = agg[layer]
        own = [s for s in spans if s["layer"] == layer]
        a["busy_ms"] = sum(s["ms"] for s in own)
        a["rows_out"] = sum(s.get("rows", 0) for s in own)
        a["idle_core_ms"] = a["busy_ms"] * cores - a["executor_run_ms"] if own else 0.0
        if layer in widest:
            times = widest[layer][2]
            a["task_skew"] = max(times) / max(statistics.median(times), 1.0)
        for metric in LAYER_METRICS:
            out[f"{layer}.{metric}"] = float(a.get(metric, 0.0))

    hits = sum(s.get("rows", 0) for s in spans if s["layer"] == "spatial")
    out["spatial.pip_refine_rows"] = float(refine_rows)
    out["spatial.pip_hit_ratio"] = hits / refine_rows if refine_rows else 0.0
    out["dedup.candidate_pairs"] = float(
        sum(s.get("counts", {}).get("candidate_pairs", 0) for s in spans)
    )
    return out
