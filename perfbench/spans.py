"""Spans, Spark task totals and timing wrappers, all from outside the
program: the benchmark times calls into ``ligra_spark``'s public functions
and never edits them.

A span is one timed call: name, start, end, parent span and the run id.
With tracing on, each span also carries the change in Spark's task
totals across the call (shuffle bytes, task time, GC time, tasks), read
from the status store after the listener queue drains.  Spans stay in
memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid

EXEC_FIELDS = {
    "shuffle_write_b": "shuffleWriteBytes",
    "shuffle_read_b": "shuffleReadBytes",
    "task_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "tasks": "numCompleteTasks",
}


class StageTotals:
    """Running sums of task metrics over one session's stages, read from
    the status store (which is kept with the UI off) after the listener
    queue drains.  Per-stage data is used because the executor summary's
    ``totalDuration`` does not read as a sum of task times in local mode.

    Stage ids are dense per session; a read scans the ids after the last
    one seen and stops after a run of ids the store does not hold."""

    GAP = 16

    def __init__(self, spark):
        self.spark = spark
        self.next_id = 0
        self.totals = dict.fromkeys(EXEC_FIELDS, 0)

    def read(self) -> dict:
        ctx = self.spark.sparkContext
        sc = ctx._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        any_status = ctx._gateway.jvm.java.util.ArrayList()
        no_quantiles = ctx._gateway.new_array(ctx._gateway.jvm.double, 0)
        sid, misses = self.next_id, 0
        while misses < self.GAP:
            attempts = store.stageData(sid, False, any_status, False, no_quantiles)
            if attempts.size() == 0:
                misses += 1
            else:
                misses = 0
                self.next_id = sid + 1
                for i in range(attempts.size()):
                    stage = attempts.apply(i)
                    for key, getter in EXEC_FIELDS.items():
                        self.totals[key] += int(getattr(stage, getter)())
            sid += 1
        return dict(self.totals)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MB."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live
    descendant (the JVM and its Python workers), reaped children
    included."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier and p not in tree}
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_control_s(loops: int = 1_000_000) -> float:
    """A fixed pure-Python CPU loop.  It does not depend on the program,
    so a run where it reads slow ran on a disturbed host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(loops):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def durations(spans, name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


class Trace:
    """In-memory span recorder for one run.

    ``traced`` adds task-total deltas to each span; timings are
    recorded either way, since the end-to-end metrics come from them.
    ``spark`` is the live session (reset by the runner on restarts)."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.spark = None
        self._stack: list[dict] = []
        self._totals: StageTotals | None = None
        self.probe_s = 0.0  # time spent reading task totals: the tracing overhead

    def _read_totals(self, spark) -> dict:
        t0 = time.perf_counter()
        if self._totals is None or self._totals.spark is not spark:
            self._totals = StageTotals(spark)
        out = self._totals.read()
        self.probe_s += time.perf_counter() - t0
        return out

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        spark = self.spark if self.traced else None
        before = self._read_totals(spark) if spark is not None else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None and self.spark is spark:
                after = self._read_totals(spark)
                rec["exec"] = {k: after[k] - before[k] for k in EXEC_FIELDS}

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def superstep_recorder(self, rec: dict, n: int, then=None):
        """An ``on_superstep`` callback that appends one record per
        superstep to span ``rec``: its number, end time and frontier size
        after the step (the apps report it as ``frontier`` or ``active``;
        PageRank's frontier is always all ``n`` vertices)."""
        steps = rec.setdefault("supersteps", [])

        def on_superstep(it, info):
            steps.append(
                {
                    "superstep": it,
                    "t": time.perf_counter(),
                    "frontier_out": int(info.get("frontier", info.get("active", n))),
                }
            )
            if then is not None:
                then(it, info)

        return on_superstep


@contextlib.contextmanager
def instrumented(trace: Trace):
    """Wrap the ingest and graph entry points that ``build_link_graph``
    and ``LinkGraph.from_parquet`` call internally, so their time shows
    as child spans.  Restores the originals on exit."""
    from ligra_spark import ingest
    from ligra_spark.graph import LinkGraph

    saved = [
        (ingest, "build_vertex_dictionary", ingest.__dict__["build_vertex_dictionary"]),
        (ingest, "build_edges", ingest.__dict__["build_edges"]),
        (LinkGraph, "from_edges", LinkGraph.__dict__["from_edges"]),
    ]
    ingest.build_vertex_dictionary = trace.wrap(
        "ingest.build_vertex_dictionary", ingest.build_vertex_dictionary
    )
    ingest.build_edges = trace.wrap("ingest.build_edges", ingest.build_edges)
    from_edges = trace.wrap("graph.from_edges", LinkGraph.from_edges)
    LinkGraph.from_edges = classmethod(lambda cls, *a, **k: from_edges(*a, **k))
    try:
        yield
    finally:
        for owner, name, value in saved:
            setattr(owner, name, value)


class TimedCheckpoints:
    """Timing wrapper around a ``CheckpointManager``: ``save`` and
    ``load`` become spans; everything else is passed through."""

    def __init__(self, inner, trace: Trace):
        self.inner = inner
        self.trace = trace

    def save(self, *args, **kwargs):
        with self.trace.span("checkpoint.save"):
            return self.inner.save(*args, **kwargs)

    def load(self, *args, **kwargs):
        with self.trace.span("checkpoint.load"):
            return self.inner.load(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self.inner, name)
