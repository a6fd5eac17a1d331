"""One benchmark run inside a fresh process: set-up, workload, checks.

Started by ``run.py`` (never directly by a user) with the run's private
``TMPDIR`` and ``SPARK_LOCAL_DIRS`` already in its environment. Writes one
JSON result to ``--result``; ``run.py`` adds the process tree's peak
memory and the set-up probes, and prints the final line.

``--probe`` only times the workload's set-up (imports plus ``get_spark``)
and exits; ``run.py`` runs it in a fresh process to get more set-up
samples per run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import threading
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import TRACER, SparkCounters, install  # noqa: E402

import datagen  # noqa: E402
import pyarrow as pa  # noqa: E402

perf = time.perf_counter
TICK = os.sysconf("SC_CLK_TCK")


class Cpu(NamedTuple):
    """A reading of ``CpuMeter``, or the difference of two."""

    work: float  # CPU seconds without JIT compilation
    jit: float  # CPU seconds of the JIT compiler threads

    def __sub__(self, other: "Cpu") -> "Cpu":
        return Cpu(self.work - other.work, self.jit - other.jit)


class CpuMeter:
    """Reads the CPU seconds (user plus system) used so far by this
    process and every live descendant, reaped children included: the
    benchmark process, the driver JVM, the pyspark daemon and its workers.

    Time the host steals from the guest and time spent waiting for a core
    are not in it, so it is far steadier on a shared host than wall time.
    The JIT compiler threads' time is split off (``Cpu.jit``): how much the
    JVM compiles in a given stretch of work depends on when its background
    compilations finish, and it was the largest part of the pass-to-pass
    spread.

    A live process counts by its CPU-time clock (nanoseconds, finished
    threads included), a compiler thread by its ``schedstat`` run time
    (nanoseconds); the children a process has reaped count by the
    kernel's tick-resolution totals."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self._compilers: dict[int, list[str]] = {}  # pid -> task dirs

    def compiler_threads(self, pid: int) -> list[str]:
        """The ``/proc`` task directories of the JIT compiler threads of
        process ``pid`` (none if it is not a JVM). The JVM runs with a
        fixed set of compiler threads
        (``-XX:-UseDynamicNumberOfCompilerThreads``), so they are looked
        up once."""
        if pid not in self._compilers:
            found = []
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                            found.append(f"/proc/{pid}/task/{tid}")
            except OSError:
                pass
            self._compilers[pid] = found
        return self._compilers[pid]

    def __call__(self) -> Cpu:
        procs: dict[int, tuple[int, int, int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            # ppid; utime + stime; cutime + cstime
            procs[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[12]),
                                int(fields[13]) + int(fields[14]))
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total, jit, todo = 0.0, 0.0, [self.root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            if pid not in procs:
                continue
            _, own, reaped = procs[pid]
            try:  # the process CPU-time clock of ``pid`` (CPUCLOCK_SCHED)
                total += time.clock_gettime((~pid << 3) | 2) + reaped / TICK
            except OSError:  # exited since /proc was read
                total += (own + reaped) / TICK
                continue
            for task in self.compiler_threads(pid):
                try:
                    with open(f"{task}/schedstat") as fh:
                        jit += int(fh.read().split()[0]) / 1e9
                except (OSError, ValueError, IndexError):
                    pass
        return Cpu(total - jit, jit)

# Closed-loop keys: scans, plan builders, Catalyst / shuffle execution and
# a batch operator (exact dedup); no driver fast path and no store write.
# Every key's registry oracle holds on the generated inputs at sf0.01.
BATCH_KEYS = (
    "q_agg_group",
    "q_join_star",
    "q_window_tumbling",
    "q_topk_pergroup",
    "q_window_session",
    "q_fn_json",
    "q_wf_rank",
    "q_llm_dedup_exact",
)
WARMUP_PASSES = 3  # closed loop: unmeasured passes after the cold pass
# closed loop: about a warm pass's wall time on a quiet 4 vCPU guest. A
# run measures ``--seconds / PASS_S`` passes, a fixed amount of work: a
# count that followed the clock would do less work on a busy host.
PASS_S = 2.5

SF = 0.01  # scale factor of the generated tables (batch_sql)
SMOKE_SF = 0.001
# stream_window: live rate (events/s), file cadence (s), live warm-up (s),
# measured replays, and the replay backlog (files x events per file).
STREAM = dict(rate=20_000, tick=0.1, warmup=2.0, replays=3,
              backlog_files=10, backlog_per_file=200_000)
SMOKE_STREAM = dict(rate=2_000, tick=0.1, warmup=2.0, replays=2,
                    backlog_files=4, backlog_per_file=2_000)

WINDOW = "2 seconds"
WINDOW_US = 2_000_000
WATERMARK_DELAY = "2 seconds"
STREAM_SCHEMA_DDL = (
    "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, value DOUBLE, created_us BIGINT"
)


def setup(workload: str, trace: bool, data_dir: str | None):
    """The set-up a user of the workload pays: imports plus ``get_spark``."""
    t0 = perf()
    if trace:
        install()
    from flink_quickstart_spark import get_spark
    from flink_quickstart_spark.session import dir_bytes, shuffle_partitions_for_bytes

    if workload == "stream_window":
        from flink_quickstart_spark import api  # noqa: F401
    else:
        from flink_quickstart_spark.plans import load_all

        load_all()
    # data-sized shuffle partitions, the policy bench.py applies
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        shuffle_partitions=shuffle_partitions_for_bytes(dir_bytes(data_dir)),
        extra_conf={
            # a fixed, pre-touched heap (initial size = maximum size): the
            # heap is resident in full from the start, so run.py can take it
            # out of the memory figure exactly; the serial collector, whose
            # CPU time grows far less when other load takes cores away (a
            # parallel collector's threads spin waiting for each other);
            # the C1 compiler only, so compiled code reaches its final tier
            # within the warm-up whatever the host's speed (with C2, a busy
            # host delays its compilations and every pass then runs slower
            # code for longer); a fixed set of JIT compiler threads, which
            # CpuMeter finds once; no hsperfdata file in /tmp; temporary
            # files in the run's TMPDIR
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-XX:+UseSerialGC -XX:TieredStopAtLevel=1 "
                f"-XX:-UseDynamicNumberOfCompilerThreads "
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        },
    )
    return spark, perf() - t0


def p90(values) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def old_gen_peak_mb(spark) -> float:
    """Peak usage of the driver JVM's old-generation heap pool: the
    high-water mark of data that outlived young collections (cached
    tables, broadcast relations, driver-side state). Eden and survivor
    peaks follow the collector's own sizing and are left out."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if (pool.getType().toString() == "Heap memory"
                and "Eden" not in name and "Survivor" not in name):
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def weighted_quantile(pairs, q: float) -> float:
    """Nearest-rank quantile of (value, count) pairs: every event of a
    file shares the file's latency."""
    pairs = sorted(pairs)
    rank = q * sum(n for _, n in pairs)
    seen = 0
    for v, n in pairs:
        seen += n
        if seen >= rank:
            return v
    return pairs[-1][0] if pairs else 0.0


# ---------------------------------------------------------------- closed loop


class ClosedLoop:
    def __init__(self, spark, data_dir: str, meter: CpuMeter) -> None:
        from flink_quickstart_spark.plans import registry

        self.spark, self.data_dir, self.meter = spark, data_dir, meter
        self.registry = registry.REGISTRY
        self.sc = spark.sparkContext
        self.counters = SparkCounters(spark)
        self.n_exec = 0
        self.group = ""
        self.errors: list[str] = []  # failed operations, for the info line
        TRACER.set_job_counter(lambda: len(self.counters.job_ids(self.group)))

    def execute(self, key: str, traced: bool):
        """Build and collect one key under its own job groups. Returns
        (wall seconds, rows, columns, counters or None); raises on error."""
        self.n_exec += 1
        base = f"perfbench-{self.n_exec}-{key}"
        builder = self.registry[key].builder
        TRACER.enabled = traced
        try:
            self.group = base + "-build"
            self.sc.setJobGroup(self.group, key)
            c0, t0 = self.meter(), perf()
            with TRACER.span("plans.build"):
                df = builder(self.spark, self.data_dir)
            t1 = perf()
            self.group = base + "-collect"
            self.sc.setJobGroup(self.group, key)
            with TRACER.span("plans.collect"):
                rows = df.collect()
            t2, c2 = perf(), self.meter()
        finally:
            TRACER.enabled = False
        counters = None
        if traced:
            build = self.counters.group(base + "-build")
            collect = self.counters.group(base + "-collect")
            counters = {k: build[k] + collect[k] for k in build}
            counters["build_jobs"] = build["jobs"]
            counters["build_ms"] = (t1 - t0) * 1e3
            counters["collect_ms"] = (t2 - t1) * 1e3
        return t2 - t0, (c2 - c0).work, rows, list(df.columns), counters

    def run_pass(self, order, traced: bool, results: dict | None = None):
        """One pass over ``order``; returns (wall s, ``Cpu``, per-exec
        (key, wall s, CPU s without JIT), failures, summed counters)."""
        from flink_quickstart_spark.session import release_tracked_persists

        times, failures, total = [], 0, {}
        c0, t0 = self.meter(), perf()
        for key in order:
            try:
                secs, cpu, rows, cols, counters = self.execute(key, traced)
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                self.errors.append(f"{key}: {type(e).__name__}: {str(e)[:300]}")
                failures += 1
                continue
            times.append((key, secs, cpu))
            if results is not None:
                results[key] = (cols, rows)
            for k, v in (counters or {}).items():
                total[k] = total.get(k, 0.0) + v
        release_tracked_persists()
        return perf() - t0, self.meter() - c0, times, failures, total

    def oracle_failures(self, results: dict) -> int:
        """Compare each key's first-pass result with its DuckDB oracle
        using the normalization of ``tools/verify_local.py``."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from verify_local import TABLES, normalize

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/{t}.parquet')"
            )
        failures = 0
        for key, (scols, srows) in results.items():
            cur = con.execute(self.registry[key].oracle)
            ocols = [d[0] for d in cur.description]
            sc_, sr = normalize(scols, [tuple(r) for r in srows])
            oc, orr = normalize(ocols, cur.fetchall())
            if sc_ != oc or sr != orr or not sr:
                self.errors.append(
                    f"{key}: oracle mismatch, {len(sr)} vs {len(orr)} rows")
                failures += 1
        con.close()
        return failures


def run_closed_loop(spark, keys, args, out: dict, meter: CpuMeter) -> None:
    loop = ClosedLoop(spark, args.data, meter)
    rng = random.Random(args.seed)
    # cold: the first trivial job plus the first pass, from a fresh JVM
    c0, t0 = meter(), perf()
    spark.range(1).count()
    first_job = perf() - t0
    first: dict = {}
    _, _, cold_times, failed, _ = loop.run_pass(keys, args.trace, first)
    cold_s, cold_cpu = perf() - t0, meter() - c0
    functions_cold = span_summary(1, 3, ("operators.", "sources."))
    sources_ms = sum(s.ms for root in TRACER.roots for s in _top_spans(root, "sources."))
    TRACER.reset()
    attempted = len(keys)
    failed += loop.oracle_failures(first)

    # unmeasured warm-up passes: the first warm passes are still compiling
    for _ in range(WARMUP_PASSES):
        order = list(keys)
        rng.shuffle(order)
        fails = loop.run_pass(order, False)[3]
        attempted += len(order)
        failed += fails
    TRACER.reset()

    passes, execs = [], []
    key_cpu: dict[str, list[float]] = {}
    traced_totals: list[dict] = []
    n_passes = max(4 if args.trace else 2, round(args.seconds / PASS_S))
    while len(passes) < n_passes:
        order = list(keys)
        rng.shuffle(order)
        # untraced, traced, traced, untraced, ...: a trend over the passes
        # cancels out of the traced-minus-untraced difference
        traced = args.trace and len(passes) % 4 in (1, 2)
        wall, cpu, times, fails, totals = loop.run_pass(order, traced)
        attempted += len(order)
        failed += fails
        passes.append((traced, wall, cpu))
        if traced:
            traced_totals.append(totals)
        else:
            execs.extend(times)
            for key, _, c in times:
                key_cpu.setdefault(key, []).append(c)
    n_traced = max(1, len(traced_totals))
    exec_walls = [w for _, w, _ in execs]
    exec_cpus = [c for _, _, c in execs]

    out.update(attempted=attempted, failed=failed)
    out["info"].update(
        keys=list(keys),
        errors=loop.errors,
        first_job_s=first_job,
        cold_s=cold_s,
        cold_key_s={k: round(w, 4) for k, w, _ in cold_times},
        warm_passes=len(passes),
        warm_executions=len(execs),
        warm_key_median_cpu_s={k: round(statistics.median(v), 4)
                               for k, v in key_cpu.items()},
        pass_walls=[round(w, 4) for _, w, _ in passes],
        pass_cpus=[round(c.work, 4) for _, _, c in passes],
        pass_jit_cpus=[round(c.jit, 4) for _, _, c in passes],
        cold_jit_cpu_s=cold_cpu.jit,
        pass_s=statistics.median(w for _, w, _ in passes),
        exec_p50_ms=statistics.median(exec_walls) * 1e3,
        exec_p90_ms=p90(exec_walls) * 1e3,
    )
    if not args.trace:
        out["metrics"].update(
            cold_cpu_s=(cold_cpu.work, "s"),
            pass_cpu_s=(statistics.median(c.work for _, _, c in passes), "s"),
            op_cpu_p50_ms=(statistics.median(exec_cpus) * 1e3, "ms"),
            op_cpu_p90_ms=(p90(exec_cpus) * 1e3, "ms"),
        )
        return
    mean = lambda k: sum(t.get(k, 0.0) for t in traced_totals) / n_traced  # noqa: E731
    untraced = [w for tr, w, _ in passes if not tr]
    traced = [w for tr, w, _ in passes if tr]
    layer = {
        "session.first_job_ms": first_job * 1e3,
        "sources.load_ms": sources_ms,
        "sources.input_bytes": mean("input_bytes"),
        "plans.build_ms": mean("build_ms"),
        "plans.build_jobs": mean("build_jobs"),
        "plans.collect_ms": mean("collect_ms"),
        "plans.jobs": mean("jobs"),
        "plans.stages": mean("stages"),
        "plans.tasks": mean("tasks"),
        "plans.cpu_ms": mean("cpu_ms"),
        "plans.gc_ms": mean("gc_ms"),
        "plans.shuffle_bytes": mean("shuffle_bytes"),
        "plans.spill_bytes": mean("spill_bytes"),
        "trace.overhead_s": statistics.median(traced) - statistics.median(untraced),
        "jvm.jit_cpu_s": statistics.median(c.jit for tr, _, c in passes if not tr),
        "wall.cold_s": cold_s,
        "wall.pass_s": statistics.median(untraced),
        "wall.p50_ms": statistics.median(exec_walls) * 1e3,
        "wall.p90_ms": p90(exec_walls) * 1e3,
    }
    layer.update(span_summary(n_traced, 2))
    layer["jvm.old_gen_peak_mb"] = old_gen_peak_mb(spark)
    out["layers"].update(layer)
    out["info"]["functions_cold_pass"] = functions_cold
    out["info"]["functions_per_warm_pass"] = span_summary(
        n_traced, 3, ("operators.", "sources."))


def _top_spans(span, prefix: str):
    """Spans named ``prefix*`` with no ancestor of the same prefix."""
    if span.name.startswith(prefix):
        yield span
        return
    for c in span.children:
        yield from _top_spans(c, prefix)


def span_summary(n_passes: int, depth: int, prefixes=("operators.",)) -> dict:
    """Calls, self time and self jobs per pass of the wrapped functions,
    from the spans recorded since the last reset, keyed by the first
    ``depth`` parts of the span name (2: module, 3: function)."""
    out: dict[str, float] = {}
    for s in TRACER.walk():
        if not s.name.startswith(prefixes):
            continue
        name = ".".join(s.name.split(".")[:depth])
        for suffix, v in (("calls", 1), ("self_ms", s.self_ms), ("jobs", s.self_jobs)):
            k = f"{name}.{suffix}"
            out[k] = out.get(k, 0.0) + v / n_passes
    return out


# --------------------------------------------------------------- stream


class Sink:
    """foreachBatch sink: keeps the latest value of every window, and the
    wall-clock emission time and the process tree's CPU time (less the
    generator's, ``cpu_offset``) at the end of every micro-batch."""

    def __init__(self, meter: CpuMeter, cpu_offset=lambda: 0.0) -> None:
        self.latest: dict[tuple[int, int], tuple[int, float]] = {}
        self.emitted: dict[int, float] = {}
        self.cpu: dict[int, float] = {}
        self.meter, self.cpu_offset = meter, cpu_offset

    def __call__(self, df, batch_id: int) -> None:
        rows = df.collect()
        now = time.time()
        for r in rows:
            self.latest[(r.w_start, r.user_id)] = (r.cnt, r.total)
        self.emitted[batch_id] = now
        self.cpu[batch_id] = self.meter().work - self.cpu_offset()


def window_reference(tables) -> dict[tuple[int, int], tuple[int, float]]:
    """Per-(window start, user) count and sum over event tables, one
    table at a time."""
    import numpy as np

    ref: dict[tuple[int, int], tuple[int, float]] = {}
    for t in tables:
        ts = t.column("ts").cast("int64").to_numpy()
        users = t.column("user_id").to_numpy()
        if not len(users):
            continue
        span = int(users.max()) + 1
        uniq, inv = np.unique((ts // WINDOW_US) * span + users, return_inverse=True)
        cnt = np.bincount(inv)
        tot = np.bincount(inv, weights=t.column("value").to_numpy())
        for k, c, v in zip(uniq.tolist(), cnt.tolist(), tot.tolist()):
            key = (k // span * WINDOW_US, k % span)
            c0, v0 = ref.get(key, (0, 0.0))
            ref[key] = (c0 + c, v0 + v)
    return ref


def window_mismatches(got: dict, want: dict) -> int:
    bad = len(set(got) ^ set(want))
    for k in set(got) & set(want):
        gc, gs = got[k]
        wc, ws = want[k]
        if gc != wc or not math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-6):
            bad += 1
    return bad


def batch_files(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    log = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


class StreamRun:
    def __init__(self, spark, run_dir: str, meter: CpuMeter) -> None:
        self.spark, self.run_dir, self.meter = spark, run_dir, meter
        self.counters = SparkCounters(spark)
        self.n_query = 0
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    def build(self, source_dir: str):
        """The pipeline, built only through the public API."""
        from pyspark.sql import functions as F

        from flink_quickstart_spark.api import (
            StreamExecutionEnvironment,
            TumblingEventTimeWindows,
        )

        t0 = perf()
        env = StreamExecutionEnvironment.get_execution_environment(self.spark)
        stream = (
            env.parquet_stream(source_dir, STREAM_SCHEMA_DDL)
            .assign_timestamps_and_watermarks("ts", WATERMARK_DELAY)
            .key_by("user_id")
            .window(TumblingEventTimeWindows.of(WINDOW), time_col="ts")
            .aggregate(cnt=F.count(F.lit(1)), total=F.sum("value"))
            .map("user_id", "cnt", "total", w_start=F.unix_micros(F.col("window.start")))
        )
        return stream.to_df(), (perf() - t0) * 1e3

    def start(self, df, sink: Sink, available_now: bool):
        self.n_query += 1
        ckpt = os.path.join(self.run_dir, "checkpoints", f"q{self.n_query}")
        writer = (
            df.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start(), ckpt

    def replay(self, backlog_dir: str, reference: dict, traced: bool):
        """Replay the backlog once; returns (wall s, ``Cpu``, processing s,
        mismatches, progress, counters or None). Wall and CPU time cover
        building the pipeline, query start, every micro-batch and
        termination. Processing is the summed ``triggerExecution`` of the
        micro-batches that read data: the wall time without query start
        and termination and without the final no-data batch that only
        advances the watermark."""
        c0, t0 = self.meter(), perf()
        df, _ = self.build(backlog_dir)
        sink = Sink(self.meter)
        q, _ = self.start(df, sink, available_now=True)
        q.awaitTermination()
        wall, cpu = perf() - t0, self.meter() - c0
        counters = self.counters.group(str(q.runId)) if traced else None
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = progress_rows(q.recentProgress)
        processing = sum(p["durationMs"].get("triggerExecution", 0)
                         for p in progress if p.get("numInputRows", 0) > 0) / 1e3
        return (wall, cpu, processing, window_mismatches(sink.latest, reference),
                progress, counters)


class Generator(threading.Thread):
    """Open-loop generator: one parquet file every ``tick`` seconds at a
    fixed rate, written by temp-and-rename. Each event carries the time
    its file was due (``created_us``); late events are allowed once the
    sink has seen two micro-batches, so the watermark is set. ``cpu_s``
    is the thread's own CPU time, which ``Sink`` leaves out."""

    def __init__(self, landing, seed, rate, tick, sink: Sink) -> None:
        super().__init__(daemon=True)
        self.landing, self.rate, self.tick, self.sink = landing, rate, tick, sink
        self.source = datagen.EventSource(seed, WINDOW_US)
        self.stop_at = float("inf")
        self.t_base = time.time() + 0.2  # the first file is due then
        self.files: list[tuple[str, float, int, float]] = []  # name, due, n, lag
        self.on_time = []  # every generated event except the late ones
        self.cpu_s = 0.0

    def run(self) -> None:
        n = int(self.rate * self.tick)
        i = 0
        while True:
            due = self.t_base + i * self.tick
            if due >= self.stop_at:
                return
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            allow_late = len(self.sink.emitted) >= 2
            table, late = self.source.batch(n, int(due * 1e6), allow_late)
            name = f"e{i:06d}.parquet"
            datagen.write_atomic(table, self.landing, name)
            self.files.append((name, due, n, time.time() - due))
            self.on_time.append(table.filter(pa.array(~late)))
            self.cpu_s = time.thread_time()
            i += 1


def progress_rows(progress) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in progress]


def run_stream(spark, args, out: dict, meter: CpuMeter) -> None:
    import pyarrow.parquet as pq

    params = SMOKE_STREAM if args.smoke else STREAM
    # a traced run alternates untraced and traced replays
    n_replays = params["replays"] + args.trace
    run = StreamRun(spark, args.run_dir, meter)
    backlog = os.path.join(args.data, "backlog")
    backlog_files = [os.path.join(backlog, f)
                     for f in sorted(os.listdir(backlog)) if f.endswith(".parquet")]
    backlog_events = sum(pq.ParquetFile(f).metadata.num_rows for f in backlog_files)
    reference = window_reference(pq.read_table(f) for f in backlog_files)
    attempted = 0
    checks: dict[str, int] = {}  # failure counts by check, for the info line

    # cold: first trivial job plus the first backlog replay in this JVM
    c0, t0 = meter(), perf()
    spark.range(1).count()
    first_job = perf() - t0
    bad = run.replay(backlog, reference, False)[3]
    cold_s, cold_cpu = perf() - t0, meter() - c0
    attempted += len(reference)
    checks["cold_replay_windows"] = bad

    # live phase: fixed-rate open loop, latency after a warm-up interval
    landing = os.path.join(args.run_dir, "landing")
    os.makedirs(landing)
    df, api_ms = run.build(landing)
    sink = Sink(meter)
    q, ckpt = run.start(df, sink, available_now=False)
    gen = Generator(landing, args.seed, params["rate"], params["tick"], sink)
    sink.cpu_offset = lambda: gen.cpu_s
    gen.start()
    measure_from = gen.t_base + params["warmup"]
    measure_to = measure_from + args.seconds
    gen.stop_at = measure_to
    gen.join()
    q.processAllAvailable()
    q.stop()
    live_progress = progress_rows(q.recentProgress)

    file_batch = batch_files(ckpt)
    lat, lags, n_files = [], [], 0
    for name, due, n, lag in gen.files:
        lags.append(lag)
        if measure_from <= due < measure_to:
            batch = file_batch.get(name)
            if batch is None or batch not in sink.emitted:
                checks["unmapped_files"] = checks.get("unmapped_files", 0) + 1
                continue
            lat.append((sink.emitted[batch] - due, n))
            n_files += 1
    # CPU per live micro-batch: from the end of one to the end of the next
    batch_cpu = [sink.cpu[b] - sink.cpu[b - 1] for b in sorted(sink.emitted)
                 if b - 1 in sink.cpu and measure_from <= sink.emitted[b] < measure_to]
    live_ref = window_reference(gen.on_time)
    n_late = gen.source.n_late
    dropped = sum(
        sum(op.get("numRowsDroppedByWatermark", 0) for op in p.get("stateOperators", []))
        for p in live_progress
    )
    attempted += len(live_ref) + 1
    checks["live_windows"] = window_mismatches(sink.latest, live_ref)
    checks["dropped_vs_late"] = int(dropped != n_late)
    gen_lag_p90 = p90(lags)
    # the generator fell behind schedule: latencies are invalid
    checks["generator_lag"] = int(gen_lag_p90 > 0.5)

    # warm replays (the cold replay and the live phase warmed the JVM):
    # capacity on a fixed backlog
    checks["warm_replay_windows"] = 0
    replays, replay_progress, traced_counters = [], [], []
    for i in range(n_replays):
        traced = args.trace and i % 4 in (1, 2)
        wall, cpu, processing, bad, prog, counters = run.replay(
            backlog, reference, traced)
        attempted += len(reference)
        checks["warm_replay_windows"] += bad
        replays.append((traced, wall, cpu, processing))
        replay_progress.extend(prog)
        if counters:
            traced_counters.append(counters)

    warm = [p for tr, _, _, p in replays if not tr]
    fixed = [w - p for tr, w, _, p in replays if not tr]
    out.update(attempted=attempted, failed=sum(checks.values()))
    out["info"].update(
        failed_checks=checks,
        rate_eps=params["rate"],
        tick_s=params["tick"],
        live_files=n_files,
        latency_samples=sum(n for _, n in lat),
        late_events=n_late,
        dropped_by_watermark=dropped,
        backlog_events=backlog_events,
        replay_walls=[round(w, 4) for _, w, _, _ in replays],
        replay_cpus=[round(c.work, 4) for _, _, c, _ in replays],
        replay_jit_cpus=[round(c.jit, 4) for _, _, c, _ in replays],
        cold_jit_cpu_s=cold_cpu.jit,
        replay_processing_s=[round(p, 4) for _, _, _, p in replays],
        live_batch_cpus=[round(c, 4) for c in batch_cpu],
        cold_s=cold_s,
        pass_s=statistics.median(warm),
        latency_p50_ms=weighted_quantile(lat, 0.5) * 1e3,
        latency_p90_ms=weighted_quantile(lat, 0.9) * 1e3,
        # query start, no-data batch and termination: wall minus processing
        replay_fixed_s=statistics.median(fixed),
        catchup_eps=backlog_events / statistics.median(warm),
        gen_lag_p90_ms=gen_lag_p90 * 1e3,
    )
    if not args.trace:
        out["metrics"].update(
            cold_cpu_s=(cold_cpu.work, "s"),
            pass_cpu_s=(statistics.median(c.work for tr, _, c, _ in replays if not tr),
                        "s"),
            op_cpu_p50_ms=(statistics.median(batch_cpu) * 1e3, "ms"),
            op_cpu_p90_ms=(p90(batch_cpu) * 1e3, "ms"),
        )
        return

    data_batches = [p for p in live_progress if p.get("numInputRows", 0) > 0]
    replay_batches = [p for p in replay_progress if p.get("numInputRows", 0) > 0]

    def dur(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in data_batches)

    def state(key):
        return max(
            (sum(op.get(key, 0) for op in p.get("stateOperators", []))
             for p in live_progress), default=0)

    n_traced = max(1, len(traced_counters))
    mean = lambda k: sum(c[k] for c in traced_counters) / n_traced  # noqa: E731
    traced_walls = [p for tr, _, _, p in replays if tr]
    out["layers"].update({
        "session.first_job_ms": first_job * 1e3,
        "streaming.batches": len(data_batches),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.rows_per_batch": statistics.median(
            p["numInputRows"] for p in replay_batches),
        "streaming.processed_rows_per_s": statistics.median(
            p.get("processedRowsPerSecond", 0.0) for p in replay_batches),
        "streaming.state_rows": state("numRowsTotal"),
        "streaming.state_mem_bytes": state("memoryUsedBytes"),
        "streaming.dropped_by_watermark": dropped,
        "streaming.gen_lag_ms": gen_lag_p90 * 1e3,
        "api.build_ms": api_ms,
        "jvm.old_gen_peak_mb": old_gen_peak_mb(spark),
        "plans.jobs": mean("jobs"),
        "plans.stages": mean("stages"),
        "plans.tasks": mean("tasks"),
        "plans.cpu_ms": mean("cpu_ms"),
        "plans.gc_ms": mean("gc_ms"),
        "plans.shuffle_bytes": mean("shuffle_bytes"),
        "plans.spill_bytes": mean("spill_bytes"),
        "sources.input_bytes": mean("input_bytes"),
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(warm),
        "jvm.jit_cpu_s": statistics.median(c.jit for tr, _, c, _ in replays if not tr),
        "wall.cold_s": cold_s,
        "wall.pass_s": statistics.median(warm),
        "wall.p50_ms": weighted_quantile(lat, 0.5) * 1e3,
        "wall.p90_ms": weighted_quantile(lat, 0.9) * 1e3,
    })


# ----------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    args.trace = bool(args.trace)

    meter = CpuMeter()
    spark, setup_s = setup(args.workload, args.trace and not args.probe, args.data)
    out: dict = {"setup_s": setup_s, "metrics": {}, "layers": {}, "info": {}}
    if not args.probe:
        spark.sparkContext.setLogLevel("ERROR")
        import duckdb
        import pyspark

        out["info"].update(
            spark=pyspark.__version__,
            python=sys.version.split()[0],
            duckdb=duckdb.__version__,
            master=spark.sparkContext.master,
            driver_memory=spark.conf.get("spark.driver.memory"),
            driver_java_options=spark.conf.get("spark.driver.extraJavaOptions"),
            shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
        )
        if args.trace:
            out["layers"]["session.start_s"] = setup_s
        if args.workload == "batch_sql":
            run_closed_loop(spark, BATCH_KEYS, args, out, meter)
        else:
            run_stream(spark, args, out, meter)
    with open(args.result, "w") as fh:
        json.dump(out, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
