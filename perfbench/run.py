"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload rmat_frontier --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository.  The run makes (or
reuses) the seed's inputs, sets up a Spark session ``SETUPS`` times
(``setup_s`` is the median), runs one untimed warm-up pass, then timed
passes until ``--seconds`` have passed (always at least one), checks every
output, and stops every process it started.  ``--trace 1`` also records
task totals per span, prints the per-layer metrics instead of the
end-to-end ones, and writes every span to ``perfbench/.runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import workloads
from spans import Trace, durations, host_control_s, instrumented, jvm_peak_rss_mb, steal_s, tree_cpu_s

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SETUPS = 3

END_TO_END = {"setup_s": "s", "pass_s": "s"}

_ENGINE = {
    "supersteps": "count",
    "superstep_s": "s",
    "tail_supersteps": "count",
    "tail_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "tasks": "count",
    "task_s": "s",
    "gc_s": "s",
}
PER_LAYER = {
    # each workload's own figures (0 where they do not apply); untraced
    # runs print them on the summary line
    "ingest_pages_per_s": "pages/s",
    "pagerank_edges_per_s": "edges/s",
    "resume_s": "s",
    "checkpoint_mb": "MB",
    "components_s": "s",
    "label_propagation_s": "s",
    "pagerank_delta_s": "s",
    "triangle_s": "s",
    "decode_mb_per_s": "MB/s",
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "extract.scan_s": "s",
    "extract.links": "count",
    "ingest.dictionary_s": "s",
    "ingest.edges_s": "s",
    "ingest.shuffle_write_mb": "MB",
    "graph.load_s": "s",
    "graph.edges": "count",
    "graph.vertices": "count",
    **{
        f"{app}.{k}": u
        for app in workloads.ENGINE_APPS
        for k, u in _ENGINE.items()
    },
    "triangle.count": "count",
    "triangle.shuffle_write_mb": "MB",
    "triangle.task_s": "s",
    "triangle.tasks": "count",
    "checkpoint.saves": "count",
    "checkpoint.save_s": "s",
    "checkpoint.load_s": "s",
    "checkpoint.step_mb": "MB",
    "decode.jpeg_mb_per_s": "MB/s",
    "decode.vp8l_mb_per_s": "MB/s",
    "decode.gif_mb_per_s": "MB/s",
    "decode.png_mb_per_s": "MB/s",
    "decode.images": "count",
    "host.control_s": "s",
}


def _cpus() -> int:
    return max(1, len(os.sched_getaffinity(0)))


def _start_session(run_dir: str):
    from ligra_spark.session import get_spark

    cpus = _cpus()
    return get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def _shutdown(spark) -> None:
    """Stop the session, then the JVM and the Python workers it spawned,
    and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    wl = workloads.WORKLOADS[workload]
    run_dir = os.path.join(BENCH, ".runs", f"{workload}-seed{seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    # Spark's block and shuffle files, and every temporary file, go to a
    # fresh directory per run, removed at the end
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # every JVM the launch starts: temporary files (native codec
    # libraries) in the run directory, no perf-counter file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g")
    # executors' Python workers import ligra_spark (decode_images, ingest)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    t_run = time.perf_counter()
    control = [host_control_s()]
    data = wl.inputs(BENCH, seed)
    phases = {"inputs_s": time.perf_counter() - t_run}

    tr = Trace(traced)
    spark = None
    ops = workloads.Ops()
    passes: list[dict] = []
    try:
        with instrumented(tr):
            for _ in range(SETUPS):
                if spark is not None:
                    tr.spark = None
                    spark.stop()
                with tr.span("setup"):
                    with tr.span("session.get_spark"):
                        spark = _start_session(run_dir)
                    tr.spark = spark
                    state = wl.setup(spark, data, tr)
            scratch = os.path.join(run_dir, "scratch")
            phases["setups_s"] = time.perf_counter() - t_run - sum(phases.values())
            with tr.span("pass", warmup=True):
                wl.warm_up(spark, data, tr, state, scratch)
            t0 = time.perf_counter()
            phases["warmup_s"] = t0 - t_run - sum(phases.values())
            while not passes or time.perf_counter() - t0 < seconds:
                cpu0, steal0, probe0 = tree_cpu_s(), steal_s(), tr.probe_s
                with tr.span("pass", warmup=False) as rec:
                    wl.run_pass(spark, data, tr, state, scratch, ops)
                rec["cpu_s"], rec["steal_s"] = tree_cpu_s() - cpu0, steal_s() - steal0
                rec["probe_s"] = tr.probe_s - probe0
                passes.append(rec)
            peak_rss = jvm_peak_rss_mb(spark)
            phases["passes_s"] = time.perf_counter() - t0
    finally:
        tr.spark = None
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    control.append(host_control_s())

    children: dict[int, list] = {}
    for s in tr.spans:
        children.setdefault(s["parent"], []).append(s)
    kids = lambda s: children.get(s["id"], [])  # noqa: E731

    per_pass = [wl.layer_figures(data, kids(p), kids) for p in passes]
    layer = dict.fromkeys(PER_LAYER, 0.0)
    for name in PER_LAYER:
        vals = [f[name] for f in per_pass if name in f]
        if vals:
            layer[name] = statistics.median(vals)
    layer["session.start_s"] = durations(tr.spans, "session.get_spark")[0]
    layer["session.jvm_peak_rss_mb"] = peak_rss
    layer["host.control_s"] = max(control)
    layer.update(wl.run_figures(data, tr))

    e2e = {
        "setup_s": statistics.median(durations(tr.spans, "setup")),
        "pass_s": statistics.median(sum(s["end"] - s["start"] for s in kids(p)) for p in passes),
    }
    summary = {
        "workload": workload,
        "seed": seed,
        "run": tr.run_id,
        "traced": traced,
        "passes": len(passes),
        "wall_s": round(time.perf_counter() - t_run, 2),
        "phases": {k: round(v, 2) for k, v in phases.items()},
        "pass_s": [round(sum(s["end"] - s["start"] for s in kids(p)), 4) for p in passes],
        "pass_cpu_s": [round(p["cpu_s"], 2) for p in passes],
        "pass_steal_s": [round(p["steal_s"], 2) for p in passes],
        "pass_probe_s": [round(p["probe_s"], 3) for p in passes],
        "figures": {k: v for k, v in layer.items() if v},
    }
    if "sha256" in data:
        summary["corpus_sha256"] = data["sha256"]
    print("[perfbench] " + json.dumps(summary), file=sys.stderr)
    if traced:
        out_dir = os.path.join(BENCH, ".runs")
        path = os.path.join(out_dir, f"trace-{workload}-seed{seed}-{tr.run_id}.json")
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": tr.spans}, f)
        print(f"[perfbench] trace written to {path}", file=sys.stderr)

    metrics, units = (layer, PER_LAYER) if traced else (e2e, END_TO_END)
    return {
        "correct": data.get("intact", True),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="ligra_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ligra_spark", "session.py")):
        print(
            f"[perfbench] no ligra_spark package next to {BENCH}: run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
