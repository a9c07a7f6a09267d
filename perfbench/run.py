#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload geo_pipeline --seed 42 --seconds 10 --trace 0

Runs from the root of a checkout. Starts one local Spark session on every
core, stores the workload's seeded inputs, runs one untimed warm-up
iteration (part of set-up), then runs closed-loop iterations (one client, the next starts when
the previous one ends) for ``--seconds`` and checks every output. All files go under ``perfbench/.run/`` and are removed at the
end.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` instead runs the
Spark-free kernel timings, untraced iterations for half the window, then one
traced pass that calls each layer on its own over cached inputs while
Spark's own event log records it, and prints the per-layer metrics folded
from that log plus the tracing overhead against the untraced iterations.

The last stdout line is the result object; the line before it is a report
with every iteration, the checks, and the host covariates of the run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: no iteration starts after this many seconds of the process (exit < 180 s)
DEADLINE_S = 140.0
DRIVER_MEMORY = "1g"


def _descendants(root_pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of every process's own peak resident set (VmHWM) over the tree:
    this process, the JVM and the Python workers."""
    total_kb = 0
    for pid in [root_pid, *_descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def _isolate(run_dir: str) -> None:
    """Route everything Spark, the JVM and Python workers write into the
    run directory; must happen before the JVM starts."""
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _start_session(run_dir: str, cores: int):
    from maplibre_tile_spec_spark.session import get_spark

    return get_spark(
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process it started
    (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gc.collect()  # release JVM-side objects while the JVM still answers
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _first_job(spark) -> None:
    """The session's first job: scheduler and executor start."""
    spark.range(1).count()


class Counter:
    """Ops attempted and failed over a run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, wl, fn, label: str):
        """One iteration; a raised error fails every op of the workload."""
        try:
            out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.attempted += len(wl.ops)
            self.failed += len(wl.ops)
            self.failures.append(f"{label}: raised")
            return None
        bad = wl.check(out)
        self.attempted += len(out)
        self.failed += len(bad)
        self.failures.extend(f"{label}: {op}" for op in bad)
        return out


def measure(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> tuple[dict, dict]:
    """→ (result line, report)."""
    import bench  # the repository's /proc helpers
    from workloads import WORKLOADS, Tracer

    t_start = time.perf_counter()
    cores = os.cpu_count() or 1
    counter = Counter()
    report: dict = {"workload": workload, "seed": seed, "cores": cores, "trace": int(trace)}
    kernel_metrics = {}
    if trace:
        import kernels

        kernel_metrics, k_att, k_fail = kernels.measure(seed)
        counter.attempted += k_att
        counter.failed += k_fail
        if k_fail:
            counter.failures.append("kernels")

    wl_cls = WORKLOADS[workload]
    calib = bench._cpu_calibration()

    t0 = time.perf_counter()
    spark = _start_session(run_dir, cores)
    try:
        tracer = Tracer(spark)
        log = None
        if trace:
            from eventlog import EventLog

            log = EventLog(spark, os.path.join(run_dir, "eventlog"))
            log.attach()
        with tracer.span("session", started=t0):
            _first_job(spark)
        t_session = time.perf_counter()
        wl = wl_cls(spark, seed, run_dir, tracer)
        wl.prepare()
        t_prepare = time.perf_counter()
        wl.materialize()
        t_inputs = time.perf_counter()
        if log:
            log.detach()
        if wl.warm_up:
            counter.run(wl, wl.run, "warm-up")
        t_warm = time.perf_counter()
        setup_s = t_warm - t0 - (t_prepare - t_session)
        report["setup_parts_s"] = {
            "session": t_session - t0,
            "inputs": t_inputs - t_prepare,
            "warm_up": t_warm - t_inputs,
        }

        # the measured window
        own0 = bench._tree_cpu_sec(os.getpid())
        busy0 = bench._proc_stat_busy()
        steal0, io0 = bench._proc_stat_steal_iowait()
        w0 = time.perf_counter()
        window = seconds / 2 if trace else seconds
        walls: list[float] = []
        last = None
        while True:
            t = time.perf_counter()
            out = counter.run(wl, wl.run, f"iteration {len(walls) + 1}")
            walls.append(time.perf_counter() - t)
            last = out or last
            now = time.perf_counter()
            if now - w0 >= window or now - t_start + walls[-1] > DEADLINE_S:
                break
        elapsed = time.perf_counter() - w0
        own1 = bench._tree_cpu_sec(os.getpid())
        busy1 = bench._proc_stat_busy()
        steal1, io1 = bench._proc_stat_steal_iowait()

        staged_wall = None
        if trace:
            log.attach()
            t = time.perf_counter()
            counter.run(wl, wl.staged, "traced pass")
            staged_wall = time.perf_counter() - t
            lines = log.close()
            from eventlog import fold

            layer_metrics = fold(lines, tracer.spans, cores)
        peak_rss = _tree_peak_rss_mb(os.getpid())
    finally:
        _stop_session(spark)

    wall = statistics.median(walls)
    report.update(
        {
            "iterations": len(walls),
            "walls_s": walls,
            "wall_max_s": max(walls),
            "setup_s": setup_s,
            "outputs": wl.report(last) if last else {},
            "summaries": last,
            "op_s": wl.op_s,
            "failed_ops_ratio": counter.failed / max(counter.attempted, 1),
            "failures": counter.failures,
            "host": {
                "cpu_calibration_mb_per_s": calib,
                "external_busy_cores": max(0.0, (busy1 - busy0) - (own1 - own0)) / elapsed,
                "steal_cores": (steal1 - steal0) / elapsed,
                "iowait_cores": (io1 - io0) / elapsed,
            },
        }
    )
    if "n_tiles" in report["outputs"]:
        report["tiles_per_s"] = report["outputs"]["n_tiles"] / wall

    if trace:
        metrics = {
            **{k: (v, _layer_unit(k)) for k, v in layer_metrics.items()},
            **{k: (v, _KERNEL_UNITS[k]) for k, v in kernel_metrics.items()},
            "trace.overhead_pct": ((staged_wall / wall - 1) * 100, "%"),
        }
        report["staged_wall_s"] = staged_wall
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "docs_per_s": (wl.n_docs / wall, "1/s"),
            "cpu_s": ((own1 - own0) / len(walls), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    result = {
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, report


_KERNEL_UNITS = {
    "mlt_codec.encode_mb_per_s": "MB/s",
    "mlt_codec.decode_mb_per_s": "MB/s",
    "wkt.parse_features_per_s": "1/s",
    "fsst.encode_mb_per_s": "MB/s",
    "earcut.vertices_per_s": "1/s",
}


def _layer_unit(name: str) -> str:
    from eventlog import LAYER_METRICS

    suffix = name.split(".", 1)[1]
    return LAYER_METRICS.get(suffix) or {"pip_hit_ratio": "ratio"}.get(suffix, "count")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p
        for p in ("maplibre_tile_spec_spark/__init__.py", "bench.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a checkout of the repository, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(run_dir)
    try:
        result, report = measure(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(
        f"{args.workload} wall_s over {report['iterations']} iterations: median "
        f"{statistics.median(report['walls_s']):.4g} s, max {report['wall_max_s']:.4g} s; "
        f"failed_ops_ratio = {report['failed_ops_ratio']:.6g} ({result['failed']}/{result['attempted']})"
    )
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
