"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload event_cascade --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from the
seed under ``.perfbench_runs/`` (removed again at exit), starts Spark
``local[<cpus>]`` with an explicit driver heap, builds the workload's
Application, warms it up untimed, serves operations from one
closed-loop client for ``--seconds``, then checks every output against
DuckDB.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of the traced half of the operations (every second
one), and the tracing overhead against the untraced half.  The line
before it holds details: input properties, sample counts and the setup
breakdown.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
#: explicit driver heap (the session factory's default is sized for big
#: hosts); the initial heap equals it so the JVM's resident size does not
#: depend on when the collector decides to grow the heap
DRIVER_MEMORY = "2g"
SETUP_ROUNDS = 3


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (inclusive method)."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def start_spark(run_dir: str, trace: bool):
    from rheoceros_spark import get_session

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the launcher starts keeps its temporary files in the run
    # directory; perf-data files would otherwise go to the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.enabled": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cpus = len(os.sched_getaffinity(0))
    return get_session("perfbench", master=f"local[{cpus}]", extra_confs=confs)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, parents before children."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; the ppid follows its ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], seconds: float) -> list[int]:
    """Wait up to ``seconds`` for ``pids`` to end; return those left."""
    deadline = time.monotonic() + seconds
    while (left := [p for p in pids if alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.05)
    return left


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and everything it
    started (Python UDF daemons and their workers), and wait until each
    process is gone.  The JVM would otherwise exit on its own only some
    seconds after this process, when it sees its stdin close."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        started = descendants(os.getpid())
        if proc is not None:
            proc.stdin.close()  # the gateway's own signal to exit
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for p in wait_gone(started, 10):
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        wait_gone(started, 10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def peak_rss_mb(spark) -> tuple[float, float]:
    """(driver JVM high-water mark, this Python process's), in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def serve(w, seconds: float, tracer=None) -> list:
    """Closed loop: start operations until ``seconds`` have passed.

    With a tracer, every second operation is traced and the others run
    with tracing off, so both halves see the same warm-up drift and
    their difference is the tracing overhead."""
    out = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        if not w.prepare_op():
            break
        traced = tracer is not None and len(out) % 2 == 1
        if traced:
            tracer.active = True
            try:
                w.observe(after=False)
                with tracer.operation(len(out)):
                    rec = w.run_op("traced")
                w.observe(after=True)
            finally:
                tracer.active = False
        else:
            rec = w.run_op("timed" if tracer is None else "untraced")
        out.append(rec)
    return out


def end_to_end(w, recs: list, setup: dict, rss_mb: tuple) -> dict:
    ok = [r for r in recs if not r.error]
    samples = [s for r in ok for s in r.samples]
    wall = sum(r.wall_s for r in ok)
    setup_s = setup["session_s"] + statistics.median(setup["round_s"]) + setup["warmup_s"]
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (sum(rss_mb), "MB"),
        "ok_ratio": (len(ok) / len(recs), "ratio"),
        "output_latency_p50_s": (statistics.median(samples), "s"),
        "output_latency_tail_s": (quantile(samples, w.TAIL_Q), "s"),
        "ops_per_s": (len(ok) / wall, "1/s"),
        "rows_per_s": (sum(r.rows for r in ok) / wall, "rows/s"),
    }


def run(args) -> tuple[dict, dict, int, int, bool]:
    import tracing as tr
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        t = time.perf_counter()
        w = cls(os.path.join(run_dir, "data"), args.seed)
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = start_spark(run_dir, bool(args.trace))
        setup = {"session_s": time.perf_counter() - t, "round_s": []}
        for i in range(SETUP_ROUNDS):
            t = time.perf_counter()
            w.setup_round(spark, os.path.join(run_dir, f"app{i}"))
            setup["round_s"].append(time.perf_counter() - t)
        tracer = None
        if args.trace:
            # the warm-up runs traced too (outside any operation), so the
            # boundary self-check does not hinge on what the few traced
            # operations happen to need
            tracer = tr.Tracer()
            tracer.install()
            tracer.active = True
        t = time.perf_counter()
        w.warmup()
        setup["warmup_s"] = time.perf_counter() - t
        if tracer is not None:
            tracer.active = False

        details = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "gen_s": gen_s, "setup": setup}
        if not args.trace:
            recs = serve(w, args.seconds)
            rss = peak_rss_mb(spark)
            details["rss_mb"] = {"jvm": rss[0], "python": rss[1]}
        else:
            try:
                recs = serve(w, args.seconds, tracer=tracer)
                route_stats = w.route_stats()
            finally:
                tracer.uninstall()
        stop_spark(spark)
        spark = None

        t = time.perf_counter()
        w.check()
        details["check_s"] = time.perf_counter() - t
        warm_errors = [r.error for r in w.records if r.phase == "warmup" and r.error]
        failed = sum(1 for r in recs if r.error)
        details["errors"] = sorted({r.error for r in recs if r.error})[:5] + warm_errors
        details["inputs"] = w.props
        samples = [s for r in recs if not r.error for s in r.samples]
        details["samples"] = len(samples)
        details["tail_percentile"] = round(100 * cls.TAIL_Q)
        details["samples_beyond_tail"] = sum(1 for s in samples if s > quantile(samples, cls.TAIL_Q)) if samples else 0
        by_node: dict = {}
        for r in recs:
            for node, secs in r.node_s:
                by_node.setdefault(node, []).append(secs)
        details["node_exec_s_p50"] = {n: statistics.median(v) for n, v in by_node.items()}

        if not args.trace:
            metrics = end_to_end(w, recs, setup, rss)
        else:
            log = tr.read_event_log(os.path.join(run_dir, "eventlog"))
            metrics_raw, tdetails = tr.layer_metrics(tracer, log, route_stats)
            details["trace"] = tdetails
            missing = tr.check_boundaries(tracer, cls.BOUNDARIES)
            if missing or not log.jobs or not tracer.py4j:
                raise RuntimeError(f"traced run recorded nothing at boundaries {missing} (jobs={len(log.jobs)})")
            walls = {ph: [r.wall_s for r in recs if r.phase == ph and not r.error] for ph in ("untraced", "traced")}
            if not walls["untraced"] or not walls["traced"]:
                raise RuntimeError("traced run needs at least two operations; raise --seconds")
            plain = statistics.median(walls["untraced"])
            overhead = statistics.median(walls["traced"]) - plain
            metrics_raw["trace.overhead_s_per_op"] = overhead
            metrics_raw["trace.overhead_ratio"] = overhead / plain
            units = {name: unit for name, unit, _ in tr.PER_LAYER}
            if set(units) != set(metrics_raw):
                raise RuntimeError(f"per-layer metrics differ from tracing.PER_LAYER: {set(units) ^ set(metrics_raw)}")
            metrics = {name: (metrics_raw[name], unit) for name, unit in units.items()}
        correct = failed == 0 and not warm_errors
        return details, metrics, len(recs), failed, correct
    finally:
        try:
            # also ends a JVM whose session failed to start
            stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass  # another run still uses it


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "rheoceros_spark")):
        print("perfbench: run from the repository root (rheoceros_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # Arrow UDF workers import the package too; they inherit the environment
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    details, metrics, attempted, failed, correct = run(args)
    print(json.dumps({"details": details}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
