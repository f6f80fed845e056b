"""The three workloads. Each is a closed loop in one process: the next
operation starts when the previous one has finished.

A workload object is built on a live session and a Tracer, then
`warmup()` runs untimed and `round()` runs one timed round: a full
drain of the backlog for the streams, one pass over the key list for
query_mix. Every round checks the program's output and returns a Round.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import gen
import oracles
from tracing import Tracer, p50

# query_mix keys, in run order. (a) driver-side build, (b) execution,
# (c) the Python/Arrow boundary. All have DuckDB oracles.
QUERY_KEYS = (
    "graph_degree_assortativity",  # (a) eager_report count barrier + collect
    "window_count",                # (b) the DataReport window core, batch
    "dedup_phash_hamming",         # (c) mapInPandas perceptual hashing
)
REPORT_COLUMNS = ("time", "type", "area", "count", "doc_id")


@dataclass
class Round:
    wall_s: float
    op_ms: list[float]        # wall time of each operation, in operation order
    ok: bool                  # output check passed
    cpu_s: float = 0.0        # engine CPU time of the round
    op_cpu_ms: list[float] = field(default_factory=list)  # per operation
    attempted: int = 0        # operations the round attempted
    failed_ops: int = 0       # operations that raised or failed the check
    groups: list[str] = field(default_factory=list)  # Spark job groups
    epoch: tuple[float, float] = (0.0, 0.0)
    layers: dict = field(default_factory=dict)       # per-layer figures
    note: str = ""


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def read_clean_sink(out: str) -> Counter:
    """The clean_stream sink as a multiset of parsed JSON records."""
    import pyarrow.parquet as pq

    return gen.clean_observed(pq.read_table(out, columns=["value"]).column("value").to_pylist())


def read_report_store(out: str) -> Counter:
    """The report_stream result store, minus the hash-bucket column `kb`,
    as a multiset of (time, type, area, count, doc_id)."""
    import pyarrow.parquet as pq

    t = pq.read_table(out, columns=list(REPORT_COLUMNS))
    return Counter(zip(*(t.column(c).to_pylist() for c in REPORT_COLUMNS)))


def sink_diff(got: Counter, want: Counter) -> str:
    """Empty when the multisets are equal, else what differs."""
    if got == want:
        return ""
    missing, extra = want - got, got - want
    return (f"sink differs: {sum(missing.values())} expected rows missing, "
            f"{sum(extra.values())} unexpected; e.g. missing {list(missing)[:2]} "
            f"unexpected {list(extra)[:2]}")


class StreamWorkload:
    """clean_stream / report_stream: drain a seeded backlog of text files
    with availableNow, one file per trigger, into a fresh checkpoint and
    sink each round."""

    # The first timed round still runs partly cold code (about 20% more
    # CPU than the next); with two rounds the median is their mean.
    min_rounds = 2

    def __init__(self, name: str, spark, tracer: Tracer, work: str, seed: int, cpu):
        from flinkproj_spark import sinks
        from flinkproj_spark.sources.dims import dim_area
        from flinkproj_spark.streaming import pipelines

        self.name, self.spark, self.tracer, self.work = name, spark, tracer, work
        self.cpu = cpu
        self.pipelines = pipelines
        self.undo = []
        if tracer.enabled:
            self.undo.append(tracer.wrap(sinks, "upsert_keyed", "sinks.upsert_keyed"))

        def dim_loader(s):
            with tracer.span("sources.dims.load"):
                return dim_area(s)

        self.dim_loader = dim_loader
        self.inputs = {}
        for phase in ("warmup", "timed"):
            backlog = gen.backlog(name, seed, warmup=phase == "warmup")
            src = os.path.join(work, "input", phase)
            gen.write_backlog(backlog, src)
            if name == "clean_stream":
                want = gen.clean_expected(backlog)
            else:
                want = Counter(gen.report_expected(backlog)[0])
            self.inputs[phase] = (src, [len(b) for b in backlog], want)
        self.n = 0

    def close(self) -> None:
        for u in self.undo:
            u()

    def warmup(self) -> Round:
        return self._round("warmup")

    def round(self) -> Round:
        return self._round("timed")

    def _round(self, phase: str) -> Round:
        src, lines, want = self.inputs[phase]
        rdir = os.path.join(self.work, "rounds", str(self.n))
        self.n += 1
        out, ckpt = os.path.join(rdir, "out"), os.path.join(rdir, "ckpt")
        raw = (self.spark.readStream.format("text")
               .option("maxFilesPerTrigger", 1).load(src))
        self.tracer.context = {"round": self.n - 1}
        e0, t0, c0 = time.time(), time.perf_counter(), self.cpu()
        if self.name == "clean_stream":
            q = self.pipelines.stream_clean(self.spark, raw, self.dim_loader, out, ckpt)
        else:
            q = self.pipelines.stream_report(
                self.spark, raw, out, os.path.join(rdir, "late"), ckpt)
        q.awaitTermination()
        wall, cpu = time.perf_counter() - t0, self.cpu() - c0
        epoch = (e0, time.time())
        progress = [json.loads(p.json) for p in q.recentProgress]
        data = [p for p in progress if p["numInputRows"] > 0]
        if q.exception() is not None:  # the round's batches failed; none is wrong
            ok, failed, note = True, len(lines), f"query failed: {q.exception()}"
        else:
            ok, note = self._check(out, want, lines, data)
            failed = 0 if ok else len(lines)
        # batches run inside the query; from outside, each gets the mean
        r = Round(wall, [float(p["durationMs"]["triggerExecution"]) for p in data], ok,
                  cpu_s=cpu, op_cpu_ms=[1e3 * cpu / len(lines)] * len(lines),
                  attempted=len(lines), failed_ops=failed, groups=[str(q.runId)],
                  epoch=epoch, note=note)
        if self.tracer.enabled:
            r.layers = self._layers(q, progress, data, out)
        # round dirs stay until the run ends: deleting them here would put
        # the file system's delete work inside the next round
        return r

    def _check(self, out: str, want: Counter, lines: list[int], data: list[dict]):
        got_lines = [p["numInputRows"] for p in data]
        if got_lines != lines:
            return False, f"batch composition {got_lines} != {lines}"
        read = read_clean_sink if self.name == "clean_stream" else read_report_store
        got = read(out)
        self.store_rows = sum(got.values())
        note = sink_diff(got, want)
        return not note, note

    def _layers(self, q, progress, data, out) -> dict:
        def d(p, *ks):
            return sum(p["durationMs"].get(k, 0) for k in ks)

        def st(p, k):
            return sum(o.get(k, 0) for o in p.get("stateOperators", []))

        rnd = self.n - 1
        jobs = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
        last = progress[-1]
        return {
            "sources.offset_ms": p50([d(p, "latestOffset", "getBatch") for p in data]),
            "sources.dims.load_ms": 1e3 * p50(self.tracer.durations("sources.dims.load", round=rnd)),
            "streaming.plan_ms": p50([d(p, "queryPlanning") for p in data]),
            "streaming.wal_ms": p50([d(p, "walCommit", "commitOffsets") for p in data]),
            "streaming.add_batch_ms": p50([d(p, "addBatch") for p in data]),
            "streaming.jobs_per_batch": jobs / max(len(data), 1),
            "state.commit_ms": p50([st(p, "commitTimeMs") for p in data]),
            "state.update_ms": p50([st(p, "allUpdatesTimeMs") for p in data]),
            "state.rows_total": st(last, "numRowsTotal"),
            "state.memory_bytes": st(last, "memoryUsedBytes"),
            "state.rows_dropped_by_watermark": sum(st(p, "numRowsDroppedByWatermark")
                                                   for p in progress),
            "sinks.upsert_ms": 1e3 * p50(self.tracer.durations("sinks.upsert_keyed", round=rnd)),
            "sinks.store_rows": getattr(self, "store_rows", 0),
            "sinks.store_files": _parquet_files(out),
        }


class QueryMix:
    """query_mix: registry keys over the corpus, noop sink, clearCache
    between keys. The warm-up pass collects every key and checks it
    against its DuckDB oracle digest; timed passes write to noop."""

    # The first timed pass still runs partly cold code (35-50% more CPU
    # than the next); later passes differ by when JIT compiles land, so
    # the median is taken over five.
    min_rounds = 5

    def __init__(self, spark, tracer: Tracer, work: str, cpu):
        from flinkproj_spark import functions, registry

        self.spark, self.tracer, self.work, self.cpu = spark, tracer, work, cpu
        self.fns = registry.queries()
        sqls = registry.oracle_sql()
        # One fixed corpus for every seed: its oracle digests are cached,
        # and a seeded row order moved engine CPU by +-20% between seeds.
        self.sf_dir = oracles.CORPUS
        self.want = oracles.expected_digests(
            QUERY_KEYS, sqls, os.path.join(work, "oracle_digests.json"))
        self.bad: set[str] = set()     # keys whose output check failed
        self.raised: set[str] = set()  # keys that raised in the warm-up pass
        self.undo = []
        if tracer.enabled:
            self.undo.append(tracer.wrap(functions, "eager_report", "functions.eager_report"))
        self.n = 0

    def close(self) -> None:
        for u in self.undo:
            u()

    def warmup(self) -> Round:
        """One pass that writes each key to noop, as a timed pass does,
        then collects the same frame for the oracle check."""
        t0 = time.perf_counter()
        notes = []
        for k in QUERY_KEYS:
            try:
                df = self.fns[k](self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                got = oracles.canon(df.toPandas())
            except Exception as e:  # a failing key must not hide the others
                self.raised.add(k)
                notes.append(f"{k} raised: {e}")
                continue
            finally:
                self.spark.catalog.clearCache()
            if got != self.want[k]:
                self.bad.add(k)
                notes.append(f"{k}: got {got} want {self.want[k]}")
        return Round(time.perf_counter() - t0, [], not self.bad, note="; ".join(notes))

    def round(self) -> Round:
        sc = self.spark.sparkContext
        rnd = self.n
        self.n += 1
        self.tracer.context = {"round": rnd}
        # a key that failed in the warm-up pass fails every execution
        groups, times, cpus, failed = [], [], [], self.bad | self.raised
        e0, t0, c0 = time.time(), time.perf_counter(), self.cpu()
        for k in QUERY_KEYS:
            k0, kc0 = time.perf_counter(), self.cpu()
            try:
                if self.tracer.enabled:
                    sc.setJobGroup(f"q{rnd}-build-{k}", k)
                with self.tracer.span("registry.build", key=k):
                    df = self.fns[k](self.spark, self.sf_dir)
                if self.tracer.enabled:
                    with self.tracer.span("registry.plan", key=k):
                        df._jdf.queryExecution().executedPlan()
                    sc.setJobGroup(f"q{rnd}-exec-{k}", k)
                    groups += [f"q{rnd}-build-{k}", f"q{rnd}-exec-{k}"]
                with self.tracer.span("registry.exec", key=k):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # a failing key must not hide the others
                failed.add(k)
            finally:
                self.spark.catalog.clearCache()
            times.append(1e3 * (time.perf_counter() - k0))
            cpus.append(1e3 * (self.cpu() - kc0))
        wall, cpu = time.perf_counter() - t0, self.cpu() - c0
        if self.tracer.enabled:
            sc.setJobGroup("perfbench-idle", "")
        r = Round(wall, times, not self.bad, cpu_s=cpu, op_cpu_ms=cpus,
                  attempted=len(QUERY_KEYS),
                  failed_ops=len(failed), groups=groups,
                  epoch=(e0, time.time()))
        if self.tracer.enabled:
            r.layers = self._layers(rnd)
        return r

    def _layers(self, rnd: int) -> dict:
        tr, st = self.tracer, self.spark.sparkContext.statusTracker()

        def jobs(phase):
            return sum(len(st.getJobIdsForGroup(f"q{rnd}-{phase}-{k}")) for k in QUERY_KEYS)

        per_key = {k: {p: sum(tr.durations(f"registry.{p}", round=rnd, key=k))
                       for p in ("build", "plan", "exec")} for k in QUERY_KEYS}
        return {
            "registry.build_s": sum(v["build"] for v in per_key.values()),
            "registry.plan_s": sum(v["plan"] for v in per_key.values()),
            "registry.exec_s": sum(v["exec"] for v in per_key.values()),
            "registry.build_jobs": jobs("build"),
            "registry.jobs": jobs("exec"),
            "functions.eager_report_s": sum(tr.durations("functions.eager_report", round=rnd)),
            "functions.eager_report_calls": len(tr.durations("functions.eager_report", round=rnd)),
            "per_key": per_key,
        }


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in xs))
