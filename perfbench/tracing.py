"""In-memory span tracer for the benchmark's traced run.

The tracer wraps calls into the program's public functions from the
benchmark's own files: each wrapped function is replaced where its
caller looks it up (``application.py`` imports ``load_signal``,
``write_dataset`` and ``partition_ready`` by name, ``routing.py``
imports ``partition_ready`` by name), so a module attribute, not the
defining module, is patched.  Spans stay in memory, one operation id per
closed-loop operation; a span's self time is its duration minus the time
its child spans cover.  Py4J round trips are counted at
``ClientServerConnection.send_command`` and charged to the innermost
open span.  Spark job, task and stage figures come from the Spark event
log, which only the traced run enables (see :func:`read_event_log`).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

#: layers in span-accounting order; ``client`` is the benchmark's own
#: code inside an operation (the root span's self time)
LAYERS = ("client", "application", "routing", "dims", "io", "compute", "operators")

#: operator functions the curation DAG calls, by module
OPERATORS = {
    "curation": ["funnel_survivors", "dedup_keep_list", "budget_mix_select", "shuffle_shards", "pack_sequences"],
    "dedup": ["minhash_lsh_pairs"],
    "text_analysis": ["bpe_encode", "chunk_documents"],
}
OPERATOR_NAMES = [n for names in OPERATORS.values() for n in names]

#: every per-layer metric: (name, unit, better)
PER_LAYER = (
    [(f"{layer}.self_s_per_op", "s", "lower") for layer in LAYERS]
    + [
        ("application.node_runs_per_op", "count/op", "lower"),
        ("routing.receive_calls_per_op", "count/op", "lower"),
        ("routing.is_ready_calls_per_op", "count/op", "lower"),
        ("routing.probes_per_op", "count/op", "lower"),
        ("routing.probe_ready_ratio", "ratio", "higher"),
        ("routing.trigger_ratio", "ratio", "higher"),
        ("routing.pending_nodes_max", "count", "lower"),
        ("dims.calls_per_op", "count/op", "lower"),
        ("io.load_s_per_op", "s", "lower"),
        ("io.load_calls_per_op", "count/op", "lower"),
        ("io.exists_probes_per_op", "count/op", "lower"),
        ("io.write_s_per_op", "s", "lower"),
        ("io.files_per_partition", "files", "lower"),
        ("io.bytes_per_row", "B/row", "lower"),
        ("compute.run_s_per_op", "s", "lower"),
    ]
    + [(f"operators.{name}.s", "s", "lower") for name in OPERATOR_NAMES]
    + [
        ("io.load_jobs_per_op", "count/op", "lower"),
        ("io.write_jobs_per_op", "count/op", "lower"),
        ("spark.jobs_per_op", "count/op", "lower"),
        ("spark.tasks_per_op", "count/op", "lower"),
        ("spark.driver_gap_s_per_op", "s", "lower"),
        ("spark.input_bytes_per_op", "B/op", "lower"),
        ("spark.executor_cpu_s", "s", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.shuffle_write_bytes", "B", "lower"),
        ("spark.shuffle_read_bytes", "B", "lower"),
        ("spark.spill_bytes", "B", "lower"),
        ("spark.task_skew_max", "ratio", "lower"),
        ("py4j.roundtrips_per_op", "count/op", "lower"),
    ]
    + [(f"py4j.{layer}.roundtrips_per_op", "count/op", "lower") for layer in LAYERS]
    + [
        ("trace.overhead_s_per_op", "s", "lower"),
        ("trace.overhead_ratio", "ratio", "lower"),
    ]
)

NODE_RUN = "application.node_run"
LOAD = "io.load_signal"
WRITE = "io.write_dataset"
PROBE = "io.partition_ready"
EXISTS = "io.partition_exists"
IS_READY = "routing.RuntimeLinkNode.is_ready"


@dataclass
class Span:
    op: int
    sid: int
    parent: int
    layer: str
    name: str
    patch: str
    t0: float
    t1: float = 0.0
    result: Any = None
    tags: list = field(default_factory=list)


class Tracer:
    """Collects spans and py4j counts while :attr:`active` is true."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._patches: list[tuple[Any, str, Any]] = []
        #: perf_counter -> epoch seconds, for matching Spark event times
        self.epoch0 = time.time() - time.perf_counter()
        self.py4j: Counter = Counter()  # (op, layer) -> round trips
        self.writes: list[tuple[int, str, dict]] = []  # (op, path, metadata)

    # -- spans ----------------------------------------------------------
    def _open(self, layer: str, name: str, patch: str) -> Span:
        parent = self._stack[-1] if self._stack else -1
        s = Span(self.op, len(self.spans), parent, layer, name, patch, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.sid)
        if layer == "operators":
            # tag the enclosing node run with the outermost operator it
            # applies (operators are lazy: the node's write runs them)
            anc = [self.spans[i] for i in self._stack[:-1]]
            if not any(a.layer == "operators" for a in anc):
                for a in reversed(anc):
                    if a.name == NODE_RUN:
                        a.tags.append(name)
                        break
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        popped = self._stack.pop()
        if popped != s.sid:
            raise RuntimeError(f"span stack out of order: closing {s.name}")

    @contextlib.contextmanager
    def operation(self, index: int):
        """One closed-loop operation: the root span of its trace."""
        if self._stack:
            raise RuntimeError("operation opened inside another span")
        self.op = index
        span = self._open("client", "client.operation", "client")
        try:
            yield span
        finally:
            self._close(span)
            self.op = -1

    def _wrap(self, fn: Callable, layer: str, name: str, patch: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active or threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            s = tracer._open(layer, name, patch)
            try:
                out = fn(*args, **kwargs)
                if name in (PROBE, EXISTS):
                    s.result = bool(out)
                elif name == WRITE:
                    path = args[1] if len(args) > 1 else kwargs["path"]
                    tracer.writes.append((s.op, path, dict(out or {})))
                return out
            finally:
                tracer._close(s)

        return wrapper

    def patch(self, owner: Any, attr: str, layer: str, name: str, patch: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self._wrap(original, layer, name, patch))

    def install(self) -> None:
        """Patch every layer boundary the per-layer table names."""
        import py4j.clientserver

        from rheoceros_spark import application, compute, dimensions, signals
        from rheoceros_spark.operators import curation, dedup, text_analysis
        from rheoceros_spark.sources import datasets
        from rheoceros_spark.sources import io as sio
        from rheoceros_spark.streaming import routing

        App = application.Application
        for attr in ("process", "execute"):
            self.patch(App, attr, "application", f"application.{attr}", f"application.{attr}")
        self.patch(App, "_run_node", "application", NODE_RUN, NODE_RUN)
        for attr in ("get_route_metrics", "get_active_routes"):
            self.patch(App, attr, "routing", f"routing.{attr}", f"routing.{attr}")
        self.patch(routing.RoutingTable, "receive", "routing", "routing.RoutingTable.receive", "routing.RoutingTable.receive")
        self.patch(routing.Route, "receive", "routing", "routing.Route.receive", "routing.Route.receive")
        self.patch(routing.RuntimeLinkNode, "is_ready", "routing", IS_READY, IS_READY)
        self.patch(signals.Signal, "materialize", "dims", "dims.Signal.materialize", "dims.Signal.materialize")
        self.patch(signals.SignalLinkNode, "propagate", "dims", "dims.SignalLinkNode.propagate", "dims.SignalLinkNode.propagate")
        self.patch(dimensions.DimensionFilter, "finalize", "dims", "dims.DimensionFilter.finalize", "dims.DimensionFilter.finalize")
        self.patch(datasets.DatasetDescriptor, "materialize_paths", "dims", "dims.materialize_paths", "dims.materialize_paths")
        # io: patched where each caller looks the name up (load_signal
        # calls partition_exists through its own module's globals)
        self.patch(application, "load_signal", "io", LOAD, "application.load_signal")
        self.patch(application, "partition_ready", "io", PROBE, "application.partition_ready")
        self.patch(application, "write_dataset", "io", WRITE, "application.write_dataset")
        self.patch(routing, "partition_ready", "io", PROBE, "routing.partition_ready")
        self.patch(sio, "partition_exists", "io", EXISTS, "io.partition_exists")
        self.patch(compute.SparkSQL, "run", "compute", "compute.SparkSQL.run", "compute.SparkSQL.run")
        self.patch(compute.Spark, "run", "compute", "compute.Spark.run", "compute.Spark.run")
        mods = {"curation": curation, "dedup": dedup, "text_analysis": text_analysis}
        for mod_name, names in OPERATORS.items():
            for n in names:
                self.patch(mods[mod_name], n, "operators", n, f"operators.{n}")
        self._patch_py4j(py4j.clientserver.ClientServerConnection)

    def _patch_py4j(self, cls: type) -> None:
        original = cls.__dict__["send_command"]
        tracer = self

        @functools.wraps(original)
        def send_command(conn, command, *args, **kwargs):
            if tracer.active and threading.get_ident() == tracer._main:
                layer = tracer.spans[tracer._stack[-1]].layer if tracer._stack else "none"
                tracer.py4j[(tracer.op, layer)] += 1
            return original(conn, command, *args, **kwargs)

        self._patches.append((cls, "send_command", original))
        cls.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
@dataclass
class SparkLog:
    jobs: list  # (job_id, submit_s, end_s, stage_ids)
    tasks: list  # dicts: stage, launch_s, finish_s, run_s, cpu_s, gc_s, input, sw, sr, spill


def read_event_log(log_dir: str) -> SparkLog:
    """Parse the (uncompressed, finished) Spark event log in ``log_dir``."""
    files = [f for f in glob.glob(log_dir + "/*") if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished Spark event log in {log_dir}, found {files}")
    starts: dict[int, tuple] = {}
    ends: dict[int, float] = {}
    tasks = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                starts[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerJobEnd":
                ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "launch_s": info.get("Launch Time", 0) / 1000.0,
                        "finish_s": info.get("Finish Time", 0) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "sw": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
    jobs = [(j, s, ends.get(j, s), stages) for j, (s, stages) in sorted(starts.items())]
    return SparkLog(jobs, tasks)


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------
def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(tracer: Tracer, log: SparkLog, route_stats: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced phase, plus details.

    ``route_stats`` carries ``triggers``, ``events`` and
    ``pending_nodes_max`` read through the routing introspection API.
    Per-op figures divide by the number of operations (root spans)."""
    spans = tracer.spans
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent >= 0:
            children[s.parent].append(s.sid)
    self_t = [s.t1 - s.t0 - sum(spans[c].t1 - spans[c].t0 for c in children[s.sid]) for s in spans]
    roots = [s for s in spans if s.parent < 0 and s.op >= 0]
    n = len(roots)
    if n == 0:
        raise RuntimeError("traced phase recorded no operations")
    in_op = [s for s in spans if s.op >= 0]

    layer_self: Counter = Counter()
    per_op_self: dict[int, float] = defaultdict(float)
    for s in in_op:
        layer_self[s.layer] += self_t[s.sid]
        per_op_self[s.op] += self_t[s.sid]
    sum_err = max(abs(per_op_self[r.op] - (r.t1 - r.t0)) for r in roots)
    if sum_err > 1e-6:
        raise RuntimeError(f"layer self times do not sum to the operation wall time (off by {sum_err:.3g} s)")

    def count(pred) -> int:
        return sum(1 for s in in_op if pred(s))

    def incl(name: str) -> float:
        return sum(s.t1 - s.t0 for s in in_op if s.name == name)

    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.self_s_per_op"] = layer_self[layer] / n
    m["application.node_runs_per_op"] = count(lambda s: s.name == NODE_RUN) / n

    probes = [s for s in in_op if s.name == PROBE and s.parent >= 0 and spans[s.parent].name == IS_READY]
    events = route_stats.get("events", 0)
    m["routing.receive_calls_per_op"] = count(lambda s: s.name == "routing.Route.receive") / n
    m["routing.is_ready_calls_per_op"] = count(lambda s: s.name == IS_READY) / n
    m["routing.probes_per_op"] = len(probes) / n
    m["routing.probe_ready_ratio"] = sum(1 for s in probes if s.result) / len(probes) if probes else 0.0
    m["routing.trigger_ratio"] = route_stats.get("triggers", 0) / events if events else 0.0
    m["routing.pending_nodes_max"] = float(route_stats.get("pending_nodes_max", 0))

    m["dims.calls_per_op"] = count(lambda s: s.layer == "dims") / n

    m["io.load_s_per_op"] = incl(LOAD) / n
    m["io.load_calls_per_op"] = count(lambda s: s.name == LOAD) / n
    m["io.exists_probes_per_op"] = count(lambda s: s.name in (PROBE, EXISTS)) / n
    m["io.write_s_per_op"] = incl(WRITE) / n
    rows = sum(int(meta.get("record_count") or 0) for op, _, meta in tracer.writes if op >= 0)
    files, size = 0, 0
    written = [p for op, p, _ in tracer.writes if op >= 0]
    for p in written:
        for f in glob.glob(p.rstrip("/") + "/part-*"):
            files += 1
            size += os.path.getsize(f)
    m["io.files_per_partition"] = files / len(written) if written else 0.0
    m["io.bytes_per_row"] = size / rows if rows else 0.0

    m["compute.run_s_per_op"] = (incl("compute.SparkSQL.run") + incl("compute.Spark.run")) / n

    # a recursive backfill nests node runs: charge each node run its
    # duration minus that of the node runs nested in it
    node_excl = {s.sid: s.t1 - s.t0 for s in in_op if s.name == NODE_RUN}
    for sid in node_excl:
        p = spans[sid].parent
        while p >= 0 and spans[p].name != NODE_RUN:
            p = spans[p].parent
        if p >= 0:
            node_excl[p] -= spans[sid].t1 - spans[sid].t0
    for name in OPERATOR_NAMES:
        m[f"operators.{name}.s"] = sum(t for sid, t in node_excl.items() if name in spans[sid].tags)

    # -- Spark: attribute jobs to operations and to load/write spans ----
    e0 = tracer.epoch0
    windows = [(e0 + r.t0, e0 + r.t1) for r in roots]
    loads = [(e0 + s.t0, e0 + s.t1) for s in in_op if s.name == LOAD]
    writes = [(e0 + s.t0, e0 + s.t1) for s in in_op if s.name == WRITE]

    def inside(t: float, ivs) -> bool:
        return any(a <= t <= b for a, b in ivs)

    op_jobs = [j for j in log.jobs if inside(j[1], windows)]
    stage_ids = {st for j in op_jobs for st in j[3]}
    op_tasks = [t for t in log.tasks if t["stage"] in stage_ids]
    m["io.load_jobs_per_op"] = sum(1 for j in op_jobs if inside(j[1], loads)) / n
    m["io.write_jobs_per_op"] = sum(1 for j in op_jobs if inside(j[1], writes)) / n
    gap = 0.0
    for a, b in windows:
        busy = [(max(a, j[1]), min(b, j[2])) for j in op_jobs if j[2] >= a and j[1] <= b]
        gap += (b - a) - _union_length(busy)
    m["spark.jobs_per_op"] = len(op_jobs) / n
    m["spark.tasks_per_op"] = len(op_tasks) / n
    m["spark.driver_gap_s_per_op"] = gap / n
    m["spark.input_bytes_per_op"] = sum(t["input"] for t in op_tasks) / n
    m["spark.executor_cpu_s"] = sum(t["cpu_s"] for t in op_tasks)
    m["spark.executor_run_s"] = sum(t["run_s"] for t in op_tasks)
    m["spark.gc_s"] = sum(t["gc_s"] for t in op_tasks)
    m["spark.shuffle_write_bytes"] = float(sum(t["sw"] for t in op_tasks))
    m["spark.shuffle_read_bytes"] = float(sum(t["sr"] for t in op_tasks))
    m["spark.spill_bytes"] = float(sum(t["spill"] for t in op_tasks))
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in op_tasks:
        by_stage[t["stage"]].append(t["finish_s"] - t["launch_s"])
    skews = [max(d) / statistics.median(d) for d in by_stage.values() if len(d) > 1 and statistics.median(d) > 0]
    m["spark.task_skew_max"] = max(skews) if skews else 1.0

    # -- py4j: round trips charged to the innermost open span -----------
    total = sum(c for (op, _), c in tracer.py4j.items() if op >= 0)
    m["py4j.roundtrips_per_op"] = total / n
    for layer in LAYERS:
        m[f"py4j.{layer}.roundtrips_per_op"] = sum(c for (op, lay), c in tracer.py4j.items() if op >= 0 and lay == layer) / n

    details = {
        "traced_ops": n,
        "self_sum_error_max_s": sum_err,
        "spans": len(spans),
        "spark_jobs_in_ops": len(op_jobs),
        "written_partitions": len(written),
        "written_rows": rows,
    }
    return m, details


def check_boundaries(tracer: Tracer, expected: list[str]) -> list[str]:
    """Patch ids the workload should exercise but that recorded no span
    (a renamed or bypassed boundary would otherwise report zeros)."""
    seen = {s.patch for s in tracer.spans}
    return [p for p in expected if p not in seen]
