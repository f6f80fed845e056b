#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload report_stream --seed 1 --seconds 10 --trace 0

Builds the session pinned to this host, generates the workload's inputs
from the seed, runs untimed warm-up, then timed rounds until --seconds
have passed and at least the workload's minimum number of rounds (a
round always runs to its end). Every round checks the program's output
against a computation made apart from the engine. The
last line of stdout is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

WORKLOADS = ("clean_stream", "report_stream", "query_mix")

END_TO_END = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "op_cpu_ms_geomean": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.offset_ms": "ms",
    "sources.dims.load_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "sinks.upsert_ms": "ms",
    "sinks.store_rows": "count",
    "sinks.store_files": "count",
    "sinks.files_written": "count",
    "registry.build_s": "s",
    "registry.plan_s": "s",
    "registry.exec_s": "s",
    "registry.build_jobs": "count",
    "registry.jobs": "count",
    "registry.stages": "count",
    "registry.tasks": "count",
    "functions.eager_report_s": "s",
    "functions.eager_report_calls": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "executor.task_skew": "ratio",
    "executor.busy_share": "ratio",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "trace.round_s": "s",
    "trace.round_cpu_s": "s",
}


def pin_host(work: str) -> tuple[int, int]:
    """All cores this process may run on; a driver heap of a quarter of
    the host's memory, between 1 and 4 GiB. Spark's local dirs, the
    JVM's temp dir and the warehouse stay inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_gb = max(1, min(4, kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{mem_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return cpus, mem_gb


def start_session(name: str, cpus: int, work: str, event_log: str | None):
    from flinkproj_spark.session import build_session

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(f"perfbench-{name}", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_clock(jvm_pid: int):
    """A clock of the engine's CPU time: user + system seconds used so far
    by this process, the JVM and the JVM's descendants (Python workers),
    read from /proc. Time the host steals from the machine is not in it."""
    tick = os.sysconf("SC_CLK_TCK")

    def read() -> float:
        procs = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:  # the process ended while we listed
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            # ppid; utime, stime, cutime, cstime (cutime/cstime: exited children)
            procs[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        ticks, todo = 0, [jvm_pid]
        while todo:
            pid = todo.pop()
            if pid in procs:
                ticks += procs[pid][1]
                todo.extend(kids.get(pid, []))
        own = os.times()
        return ticks / tick + own.user + own.system

    return read


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            kids.setdefault(int(stat[stat.rindex(")") + 2:].split()[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"  # zombie: exited
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in and the Python workers it
    started, and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers exit when the JVM closes their pipes; they are not our
    # children, so poll for them, and kill what is left after 10 s
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if _alive(w)]
        time.sleep(0.05)
    for w in workers:
        try:
            os.kill(w, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _median(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(setup_s: float, rounds) -> dict:
    from workloads import geomean

    per_op = [_median(col) for col in zip(*(r.op_cpu_ms for r in rounds))]
    return {
        "setup_s": setup_s,
        "round_cpu_s": _median([r.cpu_s for r in rounds]),
        "op_cpu_ms_geomean": geomean(per_op),
    }


def per_layer(rounds, session_s: float, fold, cpus: int) -> dict:
    """Median over timed rounds of each round's figures; 0 where the
    workload does not reach the layer."""
    per_round = []
    for r in rounds:
        f = dict(r.layers)
        f.pop("per_key", None)
        f.update(fold.executor(r.groups, r.wall_s, cpus))
        f["sinks.files_written"] = fold.files_written_between(*r.epoch)
        if any("-exec-" in g for g in r.groups):
            c = fold.counts([g for g in r.groups if "-exec-" in g])
            f["registry.stages"], f["registry.tasks"] = c["stages"], c["tasks"]
        per_round.append(f)
    out = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER:
        vals = [f[k] for f in per_round if k in f]
        if vals:
            out[k] = _median(vals)
    out["session.start_s"] = session_s
    out["trace.round_s"] = _median([r.wall_s for r in rounds])
    out["trace.round_cpu_s"] = _median([r.cpu_s for r in rounds])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import flinkproj_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2

    from tracing import EventLogFold, Tracer, read_event_log

    import workloads

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus, mem_gb = pin_host(work)
    tracer = Tracer(bool(args.trace))
    event_log = os.path.join(work, "eventlog") if args.trace else None

    t0 = time.perf_counter()
    spark = start_session(args.workload, cpus, work, event_log)
    session_s = time.perf_counter() - t0
    from pyspark import SparkContext

    cpu = cpu_clock(SparkContext._gateway.proc.pid)
    try:
        if args.workload == "query_mix":
            wl = workloads.QueryMix(spark, tracer, work, cpu)
        else:
            wl = workloads.StreamWorkload(args.workload, spark, tracer, work, args.seed, cpu)
        t_inputs = time.perf_counter()
        warm = wl.warmup()
        setup_s = time.perf_counter() - T_START
        print(f"perfbench: set-up {setup_s:.2f} s: imports {t0 - T_START:.2f}, session "
              f"{session_s:.2f}, inputs {t_inputs - t0 - session_s:.2f}, warm-up "
              f"{setup_s - (t_inputs - T_START):.2f}", file=sys.stderr)
        rounds = []
        t_run = time.perf_counter()
        while len(rounds) < wl.min_rounds or time.perf_counter() - t_run < args.seconds:
            rounds.append(wl.round())
        wl.close()
    finally:
        stop_session(spark)

    for r in rounds:
        print(f"perfbench: round wall {r.wall_s:.3f} s, cpu {r.cpu_s:.2f} s, "
              f"op wall ms {[round(x) for x in r.op_ms]}", file=sys.stderr)
    ok = warm.ok and all(r.ok for r in rounds)
    for r in [warm, *rounds]:
        if r.note:
            print(f"perfbench: output check: {r.note}", file=sys.stderr)
    attempted = sum(r.attempted for r in rounds)
    failed = sum(r.failed_ops for r in rounds)

    if args.trace:
        fold = EventLogFold(read_event_log(event_log))
        metrics = per_layer(rounds, session_s, fold, cpus)
        trace_path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(trace_path, {
            "workload": args.workload, "seed": args.seed, "cpus": cpus,
            "driver_mem_gb": mem_gb, "metrics": metrics,
            "rounds": [{"wall_s": r.wall_s, "op_ms": r.op_ms, "cpu_s": r.cpu_s,
                        "op_cpu_ms": r.op_cpu_ms, "groups": r.groups,
                        "layers": r.layers} for r in rounds],
        })
        print(f"perfbench: trace written to {trace_path}", file=sys.stderr)
        units = PER_LAYER
    else:
        metrics = end_to_end(setup_s, rounds)
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
