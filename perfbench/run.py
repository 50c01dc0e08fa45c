"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_er,query_mix} \
        --seed N --seconds T --trace {0,1}

Run from the repository root. One process builds the workload's seeded
inputs on a fresh `local[<cores>]` Spark session, runs operations back
to back (one client, closed loop) for T seconds and at least the
workload's minimum count (traced runs warm up before them), checks
every operation's output, and prints one JSON object as its last line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
A `{"context": ...}` line before it carries host-speed probes and the
per-workload figures behind the metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "aml_entity_resolution_assignment_spark"

END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_ms": "ms",
    "quality": "ratio",
}

LAYERS = {
    "blocking.wall_s": "s",
    "blocking.task_cpu_s": "s",
    "blocking.python_run_s": "s",
    "blocking.python_bytes": "bytes",
    "blocking.gc_s": "s",
    "blocking.rows_out": "count",
    "candidates.wall_s": "s",
    "candidates.pairs_out": "count",
    "candidates.shuffle_bytes": "bytes",
    "candidates.spill_bytes": "bytes",
    "candidates.task_skew": "ratio",
    "candidates.hot_blocks": "count",
    "candidates.match_yield": "ratio",
    "features.wall_s": "s",
    "features.pairs_in": "count",
    "features.shuffle_bytes": "bytes",
    "features.python_run_s": "s",
    "features.python_bytes": "bytes",
    "features.task_skew": "ratio",
    "classify.wall_s": "s",
    "classify.matches": "count",
    "classify.reviews": "count",
    "cluster.wall_s": "s",
    "cluster.jobs": "count",
    "cluster.edges_in": "count",
    "cluster.shuffle_bytes": "bytes",
    "pipeline.jobs": "count",
    "pipeline.overhead_s": "s",
    "io.bytes_written": "bytes",
    "io.write_amplification": "ratio",
    "session.gc_s": "s",
    "session.error_log_lines": "count",
    "trace.overhead_s": "s",
}


def per_layer_units(queries: list[str]) -> dict[str, str]:
    """Every per-layer metric with its unit, the mix's queries included."""
    out = dict(LAYERS)
    out.update({f"query.{q}_s": "s" for q in queries})
    out.update({f"query.{q}_jobs": "count" for q in queries})
    return out


# no operation starts this long after the process started, so a run on
# a contended host still ends within its time limit (180 s)
START = time.monotonic()
LATEST_START_S = 140

LOG4J = """\
rootLogger.level = warn
rootLogger.appenderRef.file.ref = file
rootLogger.appenderRef.console.ref = console
appender.file.type = File
appender.file.name = file
appender.file.fileName = {log}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %d{{HH:mm:ss.SSS}} %p %c{{1}}: %m%n
appender.file.layout.alwaysWriteExceptions = false
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{HH:mm:ss}} %p %c{{1}}: %m%n
appender.console.layout.alwaysWriteExceptions = false
appender.console.filter.threshold.type = ThresholdFilter
appender.console.filter.threshold.level = error
"""


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its descendants. A process whose
    parent ends (a Python worker of the Spark JVM once the JVM is gone)
    is then re-parented here rather than to init, so `stop_children`
    still finds it and waits for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between the listing and the read
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def stop_children(grace_s: float = 30.0) -> None:
    """End every process this one started and wait until each has ended.

    The Spark JVM outlives `spark.stop()`: it exits when its stdin pipe
    closes, and its Python workers exit after it. Descendants still
    running after `grace_s` are killed."""
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(grace_s)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    me, deadline = os.getpid(), time.monotonic() + grace_s
    while True:
        while True:  # reap the children that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no child left, running or ended
            if pid == 0:
                break
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid, ppid in _parents().items():
            if ppid == me:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split among the processes sharing it, so forked workers are not
    counted twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_pss_bytes(root: int) -> tuple[int, int, int]:
    """(summed PSS, PSS of `root` itself, process count) of the process
    tree under `root`."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    total, own, n, todo = 0, 0, 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            pss = _pss_bytes(pid)
        except OSError:
            continue  # the process ended between the scan and the read
        total += pss
        n += 1
        if pid == root:
            own = pss
    return total, own, n


class MemSampler(threading.Thread):
    """Polls the summed PSS of a process tree (the Spark JVM and the
    Python workers it forks) and keeps the peak, with the JVM's share
    and the process count at that moment."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak = (0, 0, 0)
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(self.root_pid))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def error_lines(log_path: str, start: int, end: int) -> int:
    with open(log_path, "rb") as f:
        f.seek(start)
        chunk = f.read(end - start).decode("utf-8", "replace")
    return sum(" ERROR " in line for line in chunk.splitlines())


def file_size(path: str) -> int:
    return os.path.getsize(path) if os.path.exists(path) else 0


def set_environment(work: str) -> None:
    """Environment for the session and its workers. Runs before any
    engine import: `session.py` reads SPARK_GRAFT_DRIVER_MEM at import."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the engine (and the benchmark's modules) by
    # name, so both go on the PYTHONPATH they inherit
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    # the engine's default heap (64g) is sized for a bench host, not
    # for a 15 GB machine shared with other work
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def start_session(args, work: str, cores: int):
    from aml_entity_resolution_assignment_spark.session import get_spark

    log = os.path.join(work, "spark.log")
    log_conf = os.path.join(work, "log4j2.properties")
    with open(log_conf, "w") as f:
        f.write(LOG4J.format(log=log))
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the heap starts at its full size: a heap that grows on demand
        # grows by a different amount each run, and peak_pss_mb with it
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
            f"-Dlog4j2.configurationFile=file:{log_conf} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf)
    spark.range(1).count()
    return spark, log


def median_by_key(rows: list[tuple[object, dict]], combine: str) -> dict[str, float]:
    """Per key, the median of each metric over that key's rows; then the
    keys' medians summed ("sum") or averaged ("mean")."""
    by_key: dict[object, list[dict]] = {}
    for key, row in rows:
        by_key.setdefault(key, []).append(row)
    per_key = []
    for rs in by_key.values():
        names = {n for r in rs for n in r}
        per_key.append(
            {n: statistics.median([r[n] for r in rs if n in r]) for n in names}
        )
    out: dict[str, float] = {}
    names = {n for r in per_key for n in r}
    for n in names:
        vals = [r[n] for r in per_key if n in r]
        out[n] = sum(vals) if combine == "sum" else statistics.fmean(vals)
    return out


def trace_overhead_s(ops) -> float:
    """Mean over keys of (median traced wall - median untraced wall)."""
    walls: dict[object, dict[bool, list[float]]] = {}
    for op in ops:
        if not op.failed:
            walls.setdefault(op.key, {True: [], False: []})[op.traced].append(op.wall_s)
    diffs = [
        statistics.median(w[True]) - statistics.median(w[False])
        for w in walls.values()
        if w[True] and w[False]
    ]
    return statistics.fmean(diffs) if diffs else 0.0


def run(args, work: str) -> int:
    set_environment(work)
    import bench  # frozen harness: host-speed probes only

    from spans import Tracer, aggregate_event_log, span_totals
    from workloads import QUERIES, WORKLOADS, Op, geomean, release

    cores = len(os.sched_getaffinity(0))
    t_probe = time.monotonic()
    context: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        # host speed in this run's window: single-thread ALU Mops/s,
        # and aggregate ALU / memcpy GB/s over `cores` processes
        "host_alu_mops_1t": round(bench._cpu_control(0.25), 1),
        **{f"host_{k}": v for k, v in bench._host_ceiling(cores, 0.25).items()},
    }

    t0 = time.monotonic()
    context["probe_s"] = t0 - t_probe
    spark, log = start_session(args, work, cores)
    session_s = time.monotonic() - t0
    try:
        sampler = MemSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        t = time.monotonic()
        wl.build()
        build_s = time.monotonic() - t
        release(spark)
        setup_s = session_s + build_s
        # untraced runs time the first operations of a fresh session, as
        # a batch job meets them; traced runs warm up first, so traced and
        # untraced operations are compared warm to warm
        warm_s = 0.0
        if args.trace:
            t = time.monotonic()
            wl.warm_up()
            warm_s = time.monotonic() - t

        gc0, log0, ticks0 = jvm_gc_s(spark), file_size(log), cpu_ticks()
        ops: list = []
        min_ops = wl.min_ops * (2 if args.trace else 1)
        start = time.monotonic()
        deadline = start + args.seconds
        while len(ops) < min_ops or time.monotonic() < deadline:
            if ops and time.monotonic() - START > LATEST_START_S:
                context["cut_short"] = True
                break
            key, traced = wl.plan(len(ops), bool(args.trace))
            op = Op(key=key, traced=traced, info={"op": len(ops)})
            tracer.op, tracer.active = len(ops), traced
            try:
                wl.op(op)
            except Exception as ex:  # noqa: BLE001 - counted as a failed op
                traceback.print_exc()
                op.failed, op.error = True, f"{type(ex).__name__}: {ex}"
                release(spark)
            finally:
                tracer.active = False
            ops.append(op)
        window_s = time.monotonic() - start
        # share of the machine's CPU time that other machines on the host
        # took in the window: context for a slow run
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        sampler.stop()
        gc_s, n_errors = jvm_gc_s(spark) - gc0, error_lines(log, log0, file_size(log))

        t = time.monotonic()
        quality = wl.check(ops)
        context["check_s"] = time.monotonic() - t
        failed = [op for op in ops if op.failed]
        for op in failed:
            print(f"failed op {op.info['op']} ({op.key}): {op.error}", file=sys.stderr)

        timed = [op for op in ops if not op.failed and not op.traced]
        walls = [op.wall_s for op in timed]
        context.update(
            {
                "session_s": session_s,
                "build_s": build_s,
                "warm_up_s": warm_s,
                "window_s": window_s,
                "window_steal_share": ticks[7] / max(sum(ticks), 1),
                "failed_share": len(failed) / len(ops),
                "peak_jvm_pss_mb": sampler.peak[1] / 2**20,
                "peak_processes": sampler.peak[2],
                **{k: v for k, v in quality.items() if k != "quality"},
            }
        )
        metrics: dict[str, float] = {}
        if walls:
            per_key: dict = {}
            for op in timed:
                per_key.setdefault(op.key, []).append(op.wall_s)
            key_medians = [statistics.median(v) for v in per_key.values()]
            if wl.name == "query_mix":
                throughput = len(key_medians) / sum(key_medians)
                context["query_total_s"] = sum(key_medians)
                context["query_s"] = {k: statistics.median(v) for k, v in per_key.items()}
            else:
                throughput = sum(op.items for op in timed) / sum(walls)
            if wl.name == "batch_er":
                context["er_pages_per_s"] = throughput
            metrics = {
                "setup_s": setup_s,
                "peak_pss_mb": sampler.peak[0] / 2**20,
                "throughput_per_s": throughput,
                # a key's operations repeat the same work; keys differ
                # (queries of the mix), so medians are taken per key
                "latency_ms": geomean(key_medians) * 1e3,
                "quality": quality["quality"],
            }

        if args.trace:
            # one application, one (still in-progress) log file: every
            # job has ended, and Spark flushes the log at each job end
            (log_name,) = os.listdir(os.path.join(work, "eventlog"))
            with open(os.path.join(work, "eventlog", log_name)) as f:
                groups = aggregate_event_log(f)
            totals = span_totals(tracer.spans, groups)
            rows = [
                (op.key, wl.op_layers(op, tracer.spans, totals))
                for op in ops
                if op.traced and not op.failed
            ]
            layers = median_by_key(rows, wl.combine)
            layers.update(
                {
                    "session.gc_s": gc_s,
                    "session.error_log_lines": n_errors,
                    "trace.overhead_s": trace_overhead_s(ops),
                }
            )
            units = per_layer_units(QUERIES)
            metrics = {n: layers.get(n, 0.0) for n in units}
            spans_path = os.path.join(
                os.path.dirname(work), f"spans-{args.workload}-seed{args.seed}.jsonl"
            )
            tracer.dump(spans_path)
            context["spans"] = os.path.relpath(spans_path, ROOT)
        else:
            units = END_TO_END
    finally:
        spark.stop()

    print(json.dumps({"context": context}))
    correct = bool(walls) and not failed and len(metrics) == len(units)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": {
                    n: {"value": metrics[n], "unit": units[n]} for n in metrics
                },
            }
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch_er", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [
        p for p in (ENGINE, "bench.py", "__spark_entry__.py", "tools/check_oracles.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources missing next to perfbench/: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    adopt_orphans()
    # a TERM signal ends the run through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
