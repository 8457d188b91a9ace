"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_refresh --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. It pins the rig (cores, Spark local and
scratch directories inside the checkout), runs one workload, checks every
output against a reference, writes details to
``.perfbench_out/<workload>-s<seed>-t<trace>.json`` and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def pin_rig() -> dict:
    """Environment every run uses, set before the JVM starts."""
    import helpers

    shutil.rmtree(WORK, ignore_errors=True)
    env = {
        "SPARK_GRAFT_CPUS": str(helpers.cpu_count()),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "scratch"),
        "SPARK_DRIVER_MEM": "2g",
        "TMPDIR": os.path.join(WORK, "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no /tmp/hsperfdata files from the launcher or the Spark JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options "
            f'"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp" pyspark-shell'
        ),
    }
    for key in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_SCRATCH", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    time.tzset()
    return env


def stop_spark(ctx) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def per_layer(ctx, names: list[str]) -> dict[str, float]:
    """Every declared per-layer metric; a layer the workload does not
    exercise reads 0."""
    import helpers

    tr = ctx.tracer
    lay = dict(ctx.layers)
    lay["session.start_s"] = helpers.median(tr.durations("session.start"))
    for key in ("star", "events"):
        lay[f"sources.generator.{key}_s"] = helpers.median(
            tr.durations(f"sources.generator.{key}")
        )
    from realtime_voting_system_spark.plans.voting import VOTING_QUERIES

    for q in VOTING_QUERIES:
        pre = f"plans.voting.{q}"
        since = ctx.measure_from
        build = tr.find(f"{pre}.build", since)
        run = tr.find(f"{pre}.exec", since)
        lay[f"{pre}.build_s"] = helpers.median(tr.durations(f"{pre}.build", since))
        lay[f"{pre}.exec_s"] = helpers.median(tr.durations(f"{pre}.exec", since))
        per_call = [
            [a + b for a, b in zip(tr.counts[x["id"]], tr.counts[y["id"]])]
            for x, y in zip(build, run)
        ]
        lay[f"{pre}.jobs"] = helpers.median([c[0] for c in per_call])
        lay[f"{pre}.tasks"] = helpers.median([c[1] for c in per_call])
    lay["trace.latency_p50_s"] = ctx.latency
    lay["trace.refresh_p50_s"] = ctx.refresh
    lay["trace.tracer_s"] = tr.busy_s
    return {n: (lay.get(n) or 0) for n in names}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "realtime_voting_system_spark")):
        print(
            "perfbench: engine package realtime_voting_system_spark not found "
            f"next to {HERE}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    with open(BENCHMARK) as f:
        spec = json.load(f)
    declared = {w["name"] for w in spec["workloads"]}
    if args.workload not in declared:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    rig = pin_rig()
    sys.path.insert(0, ROOT)
    import helpers
    import workloads
    from tracer import Tracer

    ctx = workloads.Context(
        os.path.join(WORK, "run"), args.seed, args.seconds, Tracer(bool(args.trace))
    )
    stat0, load0 = helpers.cpu_times(), helpers.load1()
    try:
        workloads.WORKLOADS[args.workload](ctx)
        peak_mb = helpers.vm_hwm_mb(ctx.jvm_pid())
    finally:
        stop_spark(ctx)
    scratch = os.environ["SPARK_GRAFT_SCRATCH"]
    left_dirs, left_bytes = helpers.tree_usage(scratch)
    ctx.layers["sources.io.scratch_left_dirs"] = left_dirs
    ctx.layers["sources.io.scratch_left_bytes"] = left_bytes

    setup_s = helpers.median(ctx.setup_s)
    ctx.metric("setup_s", setup_s, "s", len(ctx.setup_s))
    ctx.metric("peak_rss_mb", peak_mb, "MB", 1)
    ctx.metric("failed_share", ctx.failed / max(1, ctx.attempted), "ratio", ctx.attempted)
    rig.update(
        load1_start=load0,
        load1_end=helpers.load1(),
        cpu_steal_share=helpers.steal_share(stat0, helpers.cpu_times()),
    )
    end_to_end = {
        "setup_s": setup_s,
        "latency_p50_s": ctx.latency,
        "refresh_p50_s": ctx.refresh,
        "peak_rss_mb": peak_mb,
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        values = per_layer(ctx, [m["name"] for m in spec["per_layer"]])
    else:
        values = {m["name"]: end_to_end[m["name"]] for m in spec["end_to_end"]}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    correct = ctx.failed == 0 and all(v is not None for v in values.values())

    os.makedirs(OUT, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "rig": rig,
        "report": ctx.report,
        "samples": {"setup_s": ctx.setup_s, **ctx.samples},
        "layers": ctx.layers,
        "metrics": metrics,
    }
    with open(os.path.join(OUT, stem + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if args.trace:
        ctx.tracer.dump(os.path.join(OUT, stem + ".spans.json"))
    shutil.rmtree(WORK, ignore_errors=True)

    print("perfbench report " + json.dumps({"rig": rig, "report": ctx.report}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
