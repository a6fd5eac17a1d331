"""Benchmark of the flink_quickstart_spark engine: one command per workload.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists and which layer
each per-layer metric should move):

- ``batch_sql``: closed loop, one client, over registry query keys at
  sf0.01 (scans, plan builders, Catalyst and shuffle execution, a batch
  operator);
- ``stream_window``: an open-loop generator at a fixed rate into a
  windowed event-time aggregation built through the public API, then a
  backlog replay.

Each run is isolated: a fresh private ``TMPDIR`` and ``SPARK_LOCAL_DIRS``
under ``.perfbench_run/`` in the checkout, deleted afterwards; the run
waits for the JVMs of earlier runs to exit and stops every process it
started. Inputs are generated: ``batch_sql``'s tables from a fixed seed
(``TABLE_SEED``), while ``--seed`` permutes its pass order and drives the
stream's events and backlog. Outputs are checked (DuckDB
oracles for the closed loops, a reference aggregation of the generated
events for the stream); every failed or mismatched operation counts in
``failed``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics. Apart from ``setup_s`` and the memory figure, the end-to-end
timings are CPU seconds of the run's process tree without JIT
compilation (``worker.CpuMeter``): on a shared host, wall time measured
the neighbours as much as the engine. Wall times are in the ``info``
line and among the per-layer metrics. The last line of standard output
is one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``; the line before it (``{"info": ...}``) records the
run's settings, versions, load average and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from worker import SF, SMOKE_SF, SMOKE_STREAM, STREAM, WINDOW_US  # noqa: E402

RUNS_DIR = os.path.join(ROOT, ".perfbench_run")
ENV_TAG = "PERFBENCH_RUN"
DRIVER_MEMORY_MB = 2048  # fixed, pre-touched driver heap (-Xms = -Xmx)
MALLOC_ARENA_MAX = "2"
PAGE = os.sysconf("SC_PAGE_SIZE")
SETUP_PROBES = 1  # extra fresh-process set-ups per run; setup_s is the median
# batch_sql's tables are the same in every run, like the engine's fixture
# files; the run's seed permutes the pass order (and drives the stream
# generator and backlog). Tables generated from the run's seed made the
# key costs differ from run to run, and on about one seed in twenty a
# rounded double sum came out one cent apart from DuckDB's (q_join_star
# at seed 32: 39196969.35 against 39196969.34, summation order).
TABLE_SEED = 0
WORKER_TIMEOUT_S = 110  # with the probe and clean-up, a run ends within 180 s

END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_p50_ms": "ms",
    "op_cpu_p90_ms": "ms",
    "peak_offheap_mb": "MB",
}
OPERATOR_MODULES = ("dedup",)
PER_LAYER = {
    "session.start_s": "s",
    "session.first_job_ms": "ms",
    "sources.load_ms": "ms",
    "sources.input_bytes": "bytes",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    "plans.collect_ms": "ms",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.cpu_ms": "ms",
    "plans.gc_ms": "ms",
    "plans.shuffle_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    **{f"operators.{m}.{s}": u for m in OPERATOR_MODULES
       for s, u in (("calls", "count"), ("self_ms", "ms"), ("jobs", "count"))},
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.processed_rows_per_s": "1/s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.dropped_by_watermark": "count",
    "streaming.gen_lag_ms": "ms",
    "api.build_ms": "ms",
    "jvm.old_gen_peak_mb": "MB",
    "jvm.jit_cpu_s": "s",
    "wall.cold_s": "s",
    "wall.pass_s": "s",
    "wall.p50_ms": "ms",
    "wall.p90_ms": "ms",
    "trace.overhead_s": "s",
}


# ------------------------------------------------------------ processes


def _tagged_pids(prefix: str) -> list[int]:
    """Live processes whose environment carries ``ENV_TAG=<prefix>...``."""
    needle = f"{ENV_TAG}={prefix}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if any(v.startswith(needle) for v in fh.read().split(b"\0")):
                    pids.append(int(name))
        except OSError:
            pass
    return pids


def stop_tagged(prefix: str, grace_s: float = 10.0) -> None:
    """Wait for tagged processes to exit; past half the grace period send
    SIGTERM, past all of it SIGKILL."""
    deadline = time.time() + grace_s
    while pids := _tagged_pids(prefix):
        late = time.time() - deadline
        sig = signal.SIGKILL if late > 0 else signal.SIGTERM if late > -grace_s / 2 else None
        for pid in pids if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.2)


def tree_memory(root: int) -> dict[str, int]:
    """Resident memory (bytes) of process ``root`` and each of its live
    descendants, keyed ``<comm>:<pid><<ppid>``. Descendants, not the
    process group: the pyspark daemon moves itself and its workers into a
    group of their own.

    Single-threaded processes (the pyspark daemon and the workers it
    forks) share pages with each other, so they count by PSS, which splits
    a shared page among the processes that map it. Multi-threaded ones
    (the JVM, the Python driver) share next to nothing and count by RSS:
    reading their PSS walks every page table entry under the address-space
    lock, some 40 ms for a 2 GiB heap, which would stall the JVM. A child
    that a multi-threaded process spawns with ``vfork`` (the JVM running
    ``chmod`` for checkpoint files) shares its parent's whole address
    space until it execs and would report all of it again; a
    single-threaded child of a multi-threaded process whose RSS is its
    parent's, within a tenth, is such a child and is not counted."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            fields = stat[stat.rindex(")") + 2:].split()
            ppid, threads, rss = (int(fields[i]) for i in (1, 17, 21))
        except (OSError, ValueError, IndexError):
            continue
        procs[int(name)] = (comm, ppid, threads, rss * PAGE)
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in procs:
            tree.append(pid)
    out = {}
    for pid in tree:
        comm, ppid, threads, rss = procs[pid]
        parent = procs.get(ppid)
        if (parent and parent[2] > 1 and threads == 1
                and abs(rss - parent[3]) <= 0.1 * parent[3]):
            continue
        if threads > 1:
            out[f"{comm}:{pid}<{ppid}"] = rss
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[f"{comm}:{pid}<{ppid}"] = int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass
    return out


def run_child(cmd: list[str], env: dict, log_path: str, timeout: float,
              sample_rss: bool = False) -> tuple[int, dict[str, int]]:
    """Run ``cmd`` in its own process group; returns (exit code, the
    sample of per-process memory (``tree_memory``) whose sum is the
    largest, JVM included; empty unless ``sample_rss``). Samples
    every 0.25 s."""
    peak: dict[str, int] = {}
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=log,
                                start_new_session=True, cwd=ROOT)
        done = threading.Event()

        def sampler():
            while not done.wait(0.25):
                now = tree_memory(proc.pid)
                if sum(now.values()) > sum(peak.values()):
                    peak.clear()
                    peak.update(now)

        t = threading.Thread(target=sampler, daemon=True)
        if sample_rss:
            t.start()
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            done.set()
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except OSError:
                pass
            proc.wait()
            if sample_rss:
                t.join()
    return code, peak


# ------------------------------------------------------------------ main


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_ticks() -> list[int]:
    """Summed CPU time counters of ``/proc/stat`` (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def stamp() -> dict:
    return {"loadavg": list(os.getloadavg()), "nproc": os.cpu_count()}


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    ``cpu_ticks`` readings: a shared host slowing the run down."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def prepare_inputs(workload: str, data_dir: str, seed: int, smoke: bool) -> dict:
    if workload == "stream_window":
        p = SMOKE_STREAM if smoke else STREAM
        n = datagen.make_backlog(os.path.join(data_dir, "backlog"), seed,
                                 WINDOW_US, p["backlog_files"], p["backlog_per_file"])
        return {"backlog_events": n}
    sf = SMOKE_SF if smoke else SF
    return {"sf": sf, "table_seed": TABLE_SEED,
            "rows": datagen.make_tables(data_dir, sf, TABLE_SEED)}


def fail(msg: str, log_path: str | None = None) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    if log_path and os.path.exists(log_path):
        with open(log_path, errors="replace") as fh:
            tail = [l for l in fh.read().splitlines() if " WARN " not in l][-40:]
        print("\n".join(tail), file=sys.stderr)
    return 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("batch_sql", "stream_window"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs and a short stream; for the self-test")
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "flink_quickstart_spark", "__init__.py")):
        return fail(f"engine package not found under {ROOT}")
    if not os.path.exists(os.path.join(ROOT, "tools", "verify_local.py")):
        return fail("tools/verify_local.py (oracle normalization) not found")

    # a terminated run still cleans up (finally blocks run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    os.makedirs(RUNS_DIR, exist_ok=True)
    stop_tagged(RUNS_DIR)  # the previous run's JVMs must be gone first
    for stale in os.listdir(RUNS_DIR):  # left by a killed run
        shutil.rmtree(os.path.join(RUNS_DIR, stale), ignore_errors=True)
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, data = (os.path.join(run_dir, d) for d in ("tmp", "local", "data"))
    for d in (tmp, local, data):
        os.makedirs(d)
    log_path = os.path.join(run_dir, "worker.log")
    start, ticks = stamp(), cpu_ticks()
    # two cores stay free for the JIT, GC, the driver and the generator
    cores = max(1, (os.cpu_count() or 3) - 2)
    try:
        inputs = prepare_inputs(args.workload, data, args.seed, args.smoke)
        env = dict(os.environ)
        env.update({
            ENV_TAG: run_dir,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEMORY_MB}m",
            # few glibc arenas: native RSS then tracks what the JVM and
            # RocksDB allocate, not how many threads touched malloc
            "MALLOC_ARENA_MAX": MALLOC_ARENA_MAX,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no hsperfdata in /tmp
            "PYTHONHASHSEED": "0",  # same set and dict order in every run
        })
        env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        base_cmd = [sys.executable, os.path.join(HERE, "worker.py"),
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--data", data, "--run-dir", run_dir]
        if args.smoke:
            base_cmd.append("--smoke")
        result_path = os.path.join(run_dir, "result.json")
        code, peak = run_child(base_cmd + ["--result", result_path], env, log_path,
                               WORKER_TIMEOUT_S, sample_rss=True)
        stop_tagged(run_dir)
        if code != 0 or not os.path.exists(result_path):
            return fail(f"worker exited with code {code}", log_path)
        with open(result_path) as fh:
            res = json.load(fh)
        setups = [res["setup_s"]]
        if not args.trace:
            for i in range(SETUP_PROBES):
                probe_path = os.path.join(run_dir, f"probe{i}.json")
                code, _ = run_child(base_cmd + ["--probe", "--result", probe_path],
                                    env, log_path, 30)
                stop_tagged(run_dir)
                if code != 0 or not os.path.exists(probe_path):
                    return fail(f"set-up probe exited with code {code}", log_path)
                with open(probe_path) as fh:
                    setups.append(json.load(fh)["setup_s"])
    finally:
        stop_tagged(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {k: (res["layers"].get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        res["metrics"]["setup_s"] = (statistics.median(setups), "s")
        # the heap is resident in full and private: take it out exactly
        res["metrics"]["peak_offheap_mb"] = (
            sum(peak.values()) / 2**20 - DRIVER_MEMORY_MB, "MB")
        metrics = {k: tuple(res["metrics"][k]) for k in END_TO_END}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "engine_cores": cores,
        "driver_memory_mb": DRIVER_MEMORY_MB,
        "peak_memory_mb": {k: round(v / 2**20, 1) for k, v in peak.items()},
        "malloc_arena_max": MALLOC_ARENA_MAX,
        "platform": platform.platform(),
        "git_commit": git_commit(),
        "inputs": inputs,
        "setup_samples": setups,
        "error_rate": failed / max(1, attempted),
        "start": start,
        "end": stamp(),
        "cpu_steal_share": steal_share(ticks, cpu_ticks()),
        **res["info"],
    }
    if args.trace:
        info["extra_layers"] = {k: v for k, v in res["layers"].items()
                                if k not in PER_LAYER}
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
