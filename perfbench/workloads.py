"""The two workloads, driven through the engine's public entry points:
``session.get_spark``, ``sources.generator``, ``streaming.envelope``,
``streaming.jobs`` and ``plans.voting``.

``dashboard_refresh``: one client refreshes the reference dashboard's
panels back to back (closed loop) over a static, seeded voting star.
``live_election``: vote files arrive on a fixed schedule (open loop) while
three streaming queries and a dashboard on the reference's 30 s cadence
run against them.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import threading
import time
from collections import Counter

import duckdb
from pyspark.sql import functions as F

from realtime_voting_system_spark.plans.voting import (
    VOTING_ORACLE_SQL,
    VOTING_QUERIES,
)
from realtime_voting_system_spark.schemas import VOTE_EVENT
from realtime_voting_system_spark.session import get_spark
from realtime_voting_system_spark.sources import generator
from realtime_voting_system_spark.streaming import envelope, jobs

import helpers

SETUP_REPS = 3

# dashboard_refresh: 100k voters keeps a refresh near 6.5 s on 4 cores, so
# a 15 s window sees 3 refreshes; 1M voters takes 13 s a refresh.
DASH_VOTERS = 100_000
# The first refresh of a JVM is ~10 % slower while the JIT compiles the
# plans' code; it is checked but not timed.
WARMUP_REFRESHES = 1

# live_election
BACKLOG_FILES = 20
FILE_EVENTS = 500
RATE_EPS = 2_000  # published events per second in the live tail
REPLAY_SHARE = 0.02  # events replayed one file later (Kafka redelivery)
# 2 h of event time over ~50k events puts 500-event files ~70 s apart, so
# a replay one file later stays inside the 10-minute watermark.
SPAN_HOURS = 2
# The first seconds of the live tail are not measured: vote latency falls
# for several seconds after catch-up while the JIT settles on small batches.
WARMUP_S = 5.0
DASHBOARD_CADENCE_S = 30.0  # the reference's refresh period (app.py:273)
TRIGGER = {"processingTime": "0 seconds"}

VOTE_COLS = ("vote_id", "voter_id", "candidate_id", "voted_at", "vote")


class Context:
    """What one run shares across its phases."""

    def __init__(self, work: str, seed: int, seconds: float, tracer):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None
        self.setup_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.report: dict[str, dict] = {}
        self.layers: dict[str, float] = {}
        # the workload's latency_p50_s and refresh_p50_s
        self.latency: float | None = None
        self.refresh: float | None = None
        # tracer time the measured phase starts; per-layer medians use
        # only spans from then on
        self.measure_from = 0.0
        self.samples: dict[str, list[float]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        # keep every micro-batch's progress for the traced summary
        self.spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", "100000"
        )
        self.tracer.bind(self.spark)
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def metric(self, name: str, value, unit: str, n: int | None = None):
        self.report[name] = {"value": value, "unit": unit, "n": n}


# -- shared: the dashboard refresh -------------------------------------------


def refresh(ctx: Context, tables) -> tuple[float, list[float], dict]:
    """One full dashboard refresh: every panel query built and collected.
    Returns (wall seconds, per-panel seconds, {query: (columns, rows)})."""
    tr = ctx.tracer
    out, panels = {}, []
    t0 = time.perf_counter()
    with tr.span("plans.voting.refresh") as parent:
        for name, fn in VOTING_QUERIES.items():
            t = time.perf_counter()
            with tr.span(f"plans.voting.{name}.build", parent, jobs=True):
                df = fn(tables)
            with tr.span(f"plans.voting.{name}.exec", parent, jobs=True):
                rows = df.collect()
            panels.append(time.perf_counter() - t)
            out[name] = (df.columns, rows)
    return time.perf_counter() - t0, panels, out


def duck_views(con, paths: dict[str, list[str] | str]) -> None:
    for name, src in paths.items():
        files = src if isinstance(src, list) else [f"{src}/*.parquet"]
        cols = ", ".join(VOTE_COLS) if name == "vote" else "*"
        con.sql(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT {cols} FROM read_parquet({files!r})"
        )


def oracle(paths: dict[str, list[str] | str]) -> dict[str, tuple]:
    """Every panel computed by its DuckDB twin over the same parquet files."""
    con = duckdb.connect()
    try:
        duck_views(con, paths)
        out = {}
        for name, sql in VOTING_ORACLE_SQL.items():
            res = con.sql(sql)
            out[name] = (res.columns, res.fetchall())
        return out
    finally:
        con.close()


def wrong_panels(got: dict, want: dict) -> list[str]:
    return [
        q
        for q in VOTING_QUERIES
        if q not in got or not helpers.same_rows(*got[q], *want[q])
    ]


def stage_star(ctx: Context, root: str, n_voters: int, with_votes: bool):
    """Generate the seeded star and write it to parquet; returns paths."""
    spark = ctx.spark
    with ctx.tracer.span("sources.generator.star"):
        cand = generator.candidates(spark)
        cand_ids = [r.candidate_id for r in cand.select("candidate_id").collect()]
        voter = generator.voters(spark, n_voters, seed=ctx.seed, partitions=4)
        tables = {"candidate": cand, "voter": voter}
        if with_votes:
            tables["vote"] = generator.votes(
                spark, voter, cand_ids, seed=ctx.seed + 4, span_hours=SPAN_HOURS
            )
        paths = {}
        for name, df in tables.items():
            paths[name] = os.path.join(root, name)
            df.write.mode("overwrite").parquet(paths[name])
    return paths, cand_ids


def load(spark, paths: dict[str, str]):
    return {name: spark.read.parquet(p) for name, p in paths.items()}


# -- dashboard_refresh -----------------------------------------------------


def dashboard_refresh(ctx: Context) -> None:
    root = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = ctx.start_session()
        new_root = ctx.path(f"star{rep}")
        paths, _ = stage_star(ctx, new_root, DASH_VOTERS, with_votes=True)
        tables = load(spark, paths)
        tables["vote"].count()  # warm-up action: first scan of the fact
        ctx.setup_s.append(time.perf_counter() - t0)
        if root is not None:
            shutil.rmtree(root)
        root = new_root

    want = oracle(paths)
    wrong = []  # per refresh, the panels that differ from the oracle
    for _ in range(WARMUP_REFRESHES):
        _, _, got = refresh(ctx, tables)
        wrong.append(wrong_panels(got, want))

    times, panels = [], []
    ctx.measure_from = ctx.tracer.now()
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        dt, per_panel, got = refresh(ctx, tables)
        times.append(dt)
        panels += per_panel
        wrong.append(wrong_panels(got, want))
    ctx.attempted += len(wrong)
    ctx.failed += sum(map(bool, wrong))
    ctx.metric("refresh_p50_s", helpers.median(times), "s", len(times))
    ctx.metric("panel_p50_s", helpers.median(panels), "s", len(panels))
    ctx.latency, ctx.refresh = helpers.median(panels), helpers.median(times)
    ctx.samples.update(refresh_s=times, panel_s=panels)
    if any(wrong):
        ctx.report["wrong_panels"] = {"value": wrong, "unit": "names"}


# -- live_election ----------------------------------------------------------


def stage_events(ctx: Context, root: str, n_files: int):
    """Seeded vote events as envelope JSON-lines files in event-time order,
    each file also replaying a share of the previous file's events.
    Returns (staged file paths, envelope lines in file order, dim paths)."""
    spark = ctx.spark
    n = n_files * FILE_EVENTS
    paths, cand_ids = stage_star(ctx, os.path.join(root, "dims"), n, False)
    with ctx.tracer.span("sources.generator.events"):
        dims = load(spark, paths)
        votes = generator.votes(
            spark, dims["voter"], cand_ids, seed=ctx.seed + 4,
            span_hours=SPAN_HOURS,
        )
        events = generator.vote_events(votes, dims["voter"], dims["candidate"])
        env = envelope.to_envelope(
            events.orderBy("voted_at", "vote_id"), "vote_id"
        )
        lines = [
            r.line
            for r in env.select(
                F.to_json(F.struct("key", "value")).alias("line")
            ).collect()
        ]
    rng = random.Random(ctx.seed)
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    files = []
    for i in range(n_files):
        own = lines[i * FILE_EVENTS : (i + 1) * FILE_EVENTS]
        prev = lines[(i - 1) * FILE_EVENTS : i * FILE_EVENTS] if i else []
        replay = rng.sample(prev, int(len(prev) * REPLAY_SHARE))
        path = os.path.join(stage, f"votes-{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(own + replay) + "\n")
        files.append(path)
    return files, lines, paths


def _expected(lines: list[str]) -> tuple[Counter, Counter]:
    by_cand, by_state = Counter(), Counter()
    for line in lines:
        ev = json.loads(json.loads(line)["value"])
        by_cand[ev["candidate_id"]] += 1
        by_state[ev["address_state"]] += 1
    return by_cand, by_state


class Sink:
    """A foreachBatch sink keeping the latest complete aggregate and the
    time and total of every emission."""

    def __init__(self, key: str, value: str):
        self.key, self.value = key, value
        self.latest: dict = {}
        self.emissions: list[tuple[float, int, int]] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        rows = batch_df.collect()
        t = time.perf_counter()
        self.latest = {r[self.key]: r[self.value] for r in rows}
        self.emissions.append((t, sum(self.latest.values()), batch_id))


def start_queries(ctx: Context, src: str, tag: str):
    spark = ctx.spark
    vpc, turnout = Sink("candidate_id", "vote_count"), Sink("address_state", "turnout")

    def deduped():
        return jobs.dedup_votes(
            envelope.read_envelope_stream(spark, src, VOTE_EVENT)
        )

    queries = {}
    for name, agg, sink in (
        ("vpc", jobs.votes_per_candidate, vpc),
        ("turnout", jobs.turnout_by_location, turnout),
    ):
        queries[name] = (
            agg(deduped())
            .writeStream.outputMode("complete")
            .option("checkpointLocation", ctx.path(tag, f"ckpt-{name}"))
            .foreachBatch(sink)
            .trigger(**TRIGGER)
            .start()
        )
    serving = ctx.path(tag, "serving")
    queries["serving"] = jobs.start_to_parquet(
        deduped(), serving, ctx.path(tag, "ckpt-serving"), trigger=TRIGGER
    )
    return queries, vpc, turnout, serving


def _catch_up(
    vpc: Sink, need: int, deadline: float
) -> tuple[float, int]:
    """Wait for the first ST2 emission covering ``need`` events; returns
    its time and batch id."""
    while time.perf_counter() < deadline:
        hit = [(t, b) for t, total, b in vpc.emissions if total >= need]
        if hit:
            return hit[0]
        time.sleep(0.01)
    raise TimeoutError(f"catch-up did not reach {need} events")


class Feeder(threading.Thread):
    """Open-loop publisher: renames staged files into the source directory
    at their due times, never waiting for the consumer."""

    def __init__(self, files: list[str], src: str, due: list[float]):
        super().__init__(name="perfbench-feeder", daemon=True)
        self.files, self.src, self.due = files, src, due
        self.actual: list[float] = []

    def run(self) -> None:
        for path, due in zip(self.files, self.due):
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            os.rename(path, os.path.join(self.src, os.path.basename(path)))
            self.actual.append(time.perf_counter())


class LiveDashboard(threading.Thread):
    """Refreshes against the serving table at fixed due times (open loop)
    and keeps each refresh's result and input files for the oracle."""

    def __init__(self, ctx: Context, serving: str, dims: dict, due: list[float]):
        super().__init__(name="perfbench-dashboard", daemon=True)
        self.ctx, self.serving, self.dims, self.due = ctx, serving, dims, due
        self.latency: list[float] = []
        self.results: list[tuple[list[str], dict]] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            spark = self.ctx.spark
            for due in self.due:
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                vote = spark.read.parquet(self.serving).select(*VOTE_COLS)
                tables = {**load(spark, self.dims), "vote": vote}
                _, _, got = refresh(self.ctx, tables)
                self.latency.append(time.perf_counter() - due)
                files = [f.removeprefix("file://") for f in vote.inputFiles()]
                self.results.append((files, got))
        except BaseException as exc:  # reported by the main thread
            self.error = exc


def live_election(ctx: Context) -> None:
    n_tail = max(1, round((WARMUP_S + ctx.seconds) * RATE_EPS / FILE_EVENTS))
    n_files = BACKLOG_FILES + n_tail
    root = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = ctx.start_session()
        new_root = ctx.path(f"events{rep}")
        files, lines, dims = stage_events(ctx, new_root, n_files)
        src = os.path.join(new_root, "src")
        os.makedirs(src)
        for path in files[:BACKLOG_FILES]:
            os.rename(path, os.path.join(src, os.path.basename(path)))
        load(spark, dims)["candidate"].count()  # warm-up action
        ctx.setup_s.append(time.perf_counter() - t0)
        if root is not None:
            shutil.rmtree(root)
        root = new_root

    cumulative = [FILE_EVENTS * (i + 1) for i in range(n_files)]
    backlog = cumulative[BACKLOG_FILES - 1]
    hard_deadline = time.perf_counter() + WARMUP_S + ctx.seconds + 90

    # (A) catch-up against the pre-published backlog
    t_start = time.perf_counter()
    queries, vpc, turnout, serving = start_queries(ctx, src, "live")
    t_caught, catchup_batch = _catch_up(vpc, backlog, hard_deadline)
    catchup_s = t_caught - t_start

    # (B) live tail: feeder and dashboard on fixed schedules. Vote latency
    # is measured on files due after the warm-up. A refresh takes ~24 s
    # beside the stream, so the first one is due as the tail starts and
    # ends inside the measured window.
    t_tail = time.perf_counter()
    t_measure = t_tail + WARMUP_S
    ctx.measure_from = ctx.tracer.now()
    end = t_measure + ctx.seconds
    period = FILE_EVENTS / RATE_EPS
    due = helpers.due_times(t_tail, period, end)[:n_tail]
    feeder = Feeder(files[BACKLOG_FILES : BACKLOG_FILES + len(due)], src, due)
    dash = LiveDashboard(
        ctx, serving, dims, helpers.due_times(t_tail, DASHBOARD_CADENCE_S, end)
    )
    feeder.start()
    dash.start()
    feeder.join(WARMUP_S + ctx.seconds + 60)
    dash.join(max(1.0, hard_deadline - time.perf_counter()))
    if feeder.is_alive() or dash.is_alive():
        raise TimeoutError("feeder or dashboard did not finish")
    if dash.error is not None:
        raise dash.error
    published = BACKLOG_FILES + len(feeder.actual)
    for q in queries.values():
        q.processAllAvailable()
    progress = {name: list(q.recentProgress) for name, q in queries.items()}
    for q in queries.values():
        q.stop()

    # vote latency: due time of each tail file to the first ST2 emission
    # whose total covers it
    covered = helpers.first_covering(
        [(t, total) for t, total, _ in vpc.emissions], cumulative[:published]
    )
    latency, missing = [], 0
    for i, d in zip(range(BACKLOG_FILES, published), feeder.due):
        if covered[i] is None:
            missing += 1
        elif d >= t_measure:
            latency.append(covered[i] - d)

    # correctness: final aggregates and serving table against the unique
    # published votes
    by_cand, by_state = _expected(lines[: published * FILE_EVENTS])
    served = spark.read.parquet(serving)
    n_served = served.count()
    n_unique = served.select("vote_id").distinct().count()
    n_files_served = len(served.inputFiles())
    agg_ok = (
        vpc.latest == dict(by_cand)
        and turnout.latest == dict(by_state)
        and n_served == n_unique == published * FILE_EVENTS
    )
    wrong = [
        wrong_panels(got, oracle({**dims, "vote": files_seen}))
        for files_seen, got in dash.results
    ]
    want_bad = sum(map(bool, wrong))
    if want_bad:
        ctx.report["wrong_panels"] = {"value": wrong, "unit": "names"}

    ctx.attempted += published + len(dash.results)
    ctx.failed += missing + want_bad + (0 if agg_ok else published)
    ctx.latency, ctx.refresh = helpers.median(latency), helpers.median(dash.latency)
    ctx.samples["vote_latency_s"] = latency
    ctx.samples["live_refresh_s"] = dash.latency
    ctx.metric("catchup_eps", backlog / catchup_s, "events/s", BACKLOG_FILES)
    ctx.metric("vote_latency_p50_s", helpers.median(latency), "s", len(latency))
    ctx.metric(
        "vote_latency_p95_s", helpers.percentile(latency, 0.95), "s", len(latency)
    )
    ctx.metric(
        "live_refresh_p50_s", helpers.median(dash.latency), "s", len(dash.latency)
    )
    late = helpers.lateness(feeder.due, feeder.actual)
    ctx.metric("feeder_late_ms_p50", late["late_ms_p50"], "ms", late["n"])
    ctx.metric("feeder_late_ms_max", late["late_ms_max"], "ms", late["n"])
    if not agg_ok:
        ctx.report["final_counts"] = {
            "value": {"vpc": vpc.latest, "served": n_served, "unique": n_unique},
            "unit": "rows",
        }

    lay = ctx.layers
    cu = [p for p in progress["vpc"] if p["batchId"] <= catchup_batch]
    lay["streaming.catchup.getBatch_ms"] = sum(
        p["durationMs"].get("getBatch", 0) for p in cu
    )
    lay["streaming.catchup.addBatch_ms"] = sum(
        p["durationMs"].get("addBatch", 0) for p in cu
    )
    lay["streaming.catchup.batches"] = len(cu)
    for name, prog in progress.items():
        lay.update(stream_layers(name, prog))
    lay["streaming.serving.files"] = n_files_served

    if ctx.tracer.enabled:
        lay["streaming.catchup_local1_eps"] = single_core_catchup(
            ctx, files, root, backlog
        )


def stream_layers(name: str, progress: list) -> dict[str, float]:
    """Per-query micro-batch summary from ``recentProgress``."""
    batches = [p for p in progress if p["numInputRows"] > 0]

    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in batches]
        return statistics.median(vals) if vals else 0

    ops = [p["stateOperators"] for p in batches]
    pre = f"streaming.{name}."
    return {
        pre + "batches": len(batches),
        pre + "trigger_ms_p50": p50("triggerExecution"),
        pre + "addBatch_ms_p50": p50("addBatch"),
        pre + "walCommit_ms_p50": p50("walCommit"),
        pre + "state_rows": sum(s["numRowsTotal"] for s in ops[-1]) if ops else 0,
        pre + "state_commit_ms": (
            statistics.median(sum(s["commitTimeMs"] for s in o) for o in ops)
            if ops
            else 0
        ),
        pre + "watermark_dropped": sum(
            s["numRowsDroppedByWatermark"] for o in ops for s in o
        ),
    }


def single_core_catchup(ctx: Context, files, root: str, backlog: int) -> float:
    """The catch-up phase again on ``local[1]``: the single-core baseline."""
    src1 = os.path.join(root, "src1")
    os.makedirs(src1)
    src = os.path.join(root, "src")
    for path in files[:BACKLOG_FILES]:
        name = os.path.basename(path)
        shutil.copyfile(os.path.join(src, name), os.path.join(src1, name))
    prev = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        ctx.start_session()
        t0 = time.perf_counter()
        queries, vpc, _, _ = start_queries(ctx, src1, "local1")
        t1, _ = _catch_up(vpc, backlog, t0 + 120)
        for q in queries.values():
            q.processAllAvailable()
            q.stop()
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = prev
    return backlog / (t1 - t0)


WORKLOADS = {
    "dashboard_refresh": dashboard_refresh,
    "live_election": live_election,
}
