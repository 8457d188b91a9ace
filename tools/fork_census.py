#!/usr/bin/env python
"""Fork census of the live-election streams: how many processes the
machine starts per streaming micro-batch.

Runs perfbench's three ``live_election`` queries (ST2 and ST3 over
``dedup_votes``, and the parquet serving table) on the perfbench rig
against the 20 backlog files, then publishes ``--files`` more files one
at a time, draining all three queries after each, so every file is one
data micro-batch per query. The ``processes`` counter of /proc/stat (every
fork on the machine) is read before the queries start and after they
stop; the run only reads it. Without libhadoop, Hadoop's local file
system forks for checkpoint file operations, which this makes visible.
Run nothing else on the machine meanwhile: the counter is machine-wide.

Over the same interval it reads the CPU seconds of each JVM thread from
/proc/<jvm pid>/task/*/stat and sums them per thread class: the JIT
compiler threads, Spark task threads, stream execution threads, the
process reaper that waits on forked children, and GC. CPU of threads that
exited meanwhile is the process total less the live threads'. Spark's job
and stage metrics cover only task time, so the rest shows here alone.

Usage, from the root of a checkout:

    python tools/fork_census.py [--files 20] [--seed 1]

Prints one JSON line: forks, batches per query, forks per data
micro-batch, and JVM CPU seconds per thread class.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, ROOT)


def forks_so_far() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("/proc/stat has no processes line")


# thread class → prefixes of the thread name in /proc (at most 15 chars)
THREAD_CLASSES = {
    "compiler": ("C1 CompilerThre", "C2 CompilerThre"),
    "executor_task": ("Executor task l",),
    "stream_execution": ("stream executio",),
    "process_reaper": ("process reaper",),
    "gc": ("GC Thread", "G1 "),
}


def _cpu_s(stat: str) -> tuple[str, float]:
    """(thread name, utime + stime in s) of one /proc stat line."""
    name = stat[stat.index("(") + 1:stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2:].split()  # from field 3, state
    return name, (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_cpu(pid: int) -> tuple[float, dict[int, tuple[str, float]]]:
    """The process's CPU seconds so far (exited threads included), and
    each live thread's: {tid: (name, s)}."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                threads[int(tid)] = _cpu_s(f.read())
        except FileNotFoundError:  # exited since the listing
            pass
    with open(f"/proc/{pid}/stat") as f:
        return _cpu_s(f.read())[1], threads


def cpu_by_class(before, after) -> dict[str, float]:
    """CPU seconds per thread class between two ``jvm_cpu`` readings."""
    (total0, threads0), (total1, threads1) = before, after
    out = dict.fromkeys([*THREAD_CLASSES, "other"], 0.0)
    for tid, (name, s) in threads1.items():
        used = s - threads0.get(tid, (name, 0.0))[1]
        cls = next(
            (c for c, pre in THREAD_CLASSES.items() if name.startswith(pre)),
            "other",
        )
        out[cls] += used
    out["exited_threads"] = (total1 - total0) - sum(out.values())
    out["total"] = total1 - total0
    return {c: round(s, 2) for c, s in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=20)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import run as bench  # perfbench/run.py: the rig and the JVM stop

    rig = bench.pin_rig()
    import workloads
    from tracer import Tracer

    ctx = workloads.Context(
        os.path.join(bench.WORK, "census"), args.seed, 0.0, Tracer(False)
    )
    try:
        ctx.start_session()
        root = ctx.path("events")
        backlog = workloads.BACKLOG_FILES
        files, _, _ = workloads.stage_events(ctx, root, backlog + args.files)
        src = os.path.join(root, "src")
        os.makedirs(src)

        def publish(path):
            os.rename(path, os.path.join(src, os.path.basename(path)))

        for path in files[:backlog]:
            publish(path)
        pid = ctx.jvm_pid()
        cpu0 = jvm_cpu(pid)
        f0, t0 = forks_so_far(), time.perf_counter()
        queries, *_ = workloads.start_queries(ctx, src, "census")
        for path in [None, *files[backlog:]]:
            if path is not None:
                publish(path)
            for q in queries.values():
                q.processAllAvailable()
        cpu = cpu_by_class(cpu0, jvm_cpu(pid))  # the stream threads live
        progress = {n: list(q.recentProgress) for n, q in queries.items()}
        for q in queries.values():
            q.stop()
        forks, wall = forks_so_far() - f0, time.perf_counter() - t0
    finally:
        bench.stop_spark(ctx)
        shutil.rmtree(bench.WORK, ignore_errors=True)

    data = {
        n: sum(p["numInputRows"] > 0 for p in prog)
        for n, prog in progress.items()
    }
    print(json.dumps({
        "cpus": rig["SPARK_GRAFT_CPUS"],
        "files": backlog + args.files,
        "forks": forks,
        "wall_s": round(wall, 1),
        "batches": {n: len(p) for n, p in progress.items()},
        "data_batches": data,
        "forks_per_data_batch": round(forks / sum(data.values()), 1),
        "jvm_cpu_s": cpu,
    }))


if __name__ == "__main__":
    main()
