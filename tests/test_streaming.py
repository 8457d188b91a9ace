"""Streaming layer tests (SURVEY §5.3): file-source micro-batches standing
in for Kafka partitions (same envelope, same parse path — no broker in the
test environment). Each multi-phase test restarts the query from its
checkpoint between phases, so watermark/dedup state recovery (ST5) is
exercised by construction, not as a separate mock."""

from __future__ import annotations

import time
from datetime import datetime

import pytest

from realtime_voting_system_spark.schemas import VOTE_EVENT
from realtime_voting_system_spark.sources import generator
from realtime_voting_system_spark.streaming import envelope, jobs

AVAILABLE_NOW = {"availableNow": True}


def _mkevent(vote_id, voter_id, cand, ts, state="Ohio"):
    return (
        vote_id,
        voter_id,
        cand,
        datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"),
        1,
        f"Voter {voter_id}",
        f"Cand {cand}",
        "Management Party",
        state,
    )


def _write_events(spark, path, rows, files=1):
    df = spark.createDataFrame(rows, VOTE_EVENT)
    envelope.to_envelope(df.coalesce(files), "vote_id").write.mode(
        "append"
    ).json(path)


def _drain(stream_df, start_fn, *args, **kw):
    q = start_fn(stream_df, *args, trigger=AVAILABLE_NOW, **kw)
    q.awaitTermination(120)
    assert not q.isActive
    return q


TS = "2024-11-05 {:02d}:{:02d}:00"


def test_envelope_roundtrip(spark):
    star = generator.generate_star(spark, n_voters=200, seed=3)
    events = generator.vote_events(
        star["vote"], star["voter"], star["candidate"]
    )
    back = envelope.parse_envelope(
        envelope.to_envelope(events, "vote_id"), VOTE_EVENT
    )
    # nullability differs (from_json is always nullable) — names/types must match
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in events.schema.fields
    ]
    a = sorted(events.collect())
    b = sorted(back.collect())
    assert a == b


def test_stream_dedup_first_vote_wins(spark, tmp_path):
    src, out, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    t0 = TS.format(10, 0)
    phase1 = [
        _mkevent("v1", "A", "c1", t0),
        _mkevent("v2", "B", "c1", TS.format(10, 1)),
        _mkevent("v3", "C", "c2", TS.format(10, 2)),
    ]
    _write_events(spark, src, phase1)
    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    _drain(jobs.dedup_votes(stream), jobs.start_to_parquet, out, ckpt)

    # Phase 2: duplicate voters A and B (new vote_ids, still inside the
    # watermark) must be dropped by recovered state; new voter D passes.
    phase2 = [
        _mkevent("v4", "A", "c2", TS.format(10, 3)),
        _mkevent("v5", "B", "c2", TS.format(10, 4)),
        _mkevent("v6", "D", "c2", TS.format(10, 5)),
    ]
    _write_events(spark, src, phase2)
    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    _drain(jobs.dedup_votes(stream), jobs.start_to_parquet, out, ckpt)

    got = {
        r["voter_id"]: r["vote_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {"A": "v1", "B": "v2", "C": "v3", "D": "v6"}


def test_windowed_counts_drop_late_rows(spark, tmp_path):
    src, out, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )

    def run():
        stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
        win = jobs.windowed_votes(
            stream, size="1 hour", watermark="10 minutes"
        )
        _drain(win, jobs.start_to_parquet, out, ckpt)

    # Phase 1: two events in hour 10, one in hour 12 → watermark 11:50.
    _write_events(
        spark,
        src,
        [
            _mkevent("v1", "A", "c1", TS.format(10, 5)),
            _mkevent("v2", "B", "c1", TS.format(10, 40)),
            _mkevent("v3", "C", "c1", TS.format(12, 0)),
        ],
    )
    run()
    # Phase 2: a late hour-10 event (far below the 11:50 watermark) must be
    # DROPPED; the hour-13 event advances the watermark to flush hour 12.
    _write_events(
        spark,
        src,
        [
            _mkevent("v4", "D", "c1", TS.format(10, 50)),
            _mkevent("v5", "E", "c1", TS.format(13, 30)),
        ],
    )
    run()
    # Phase 3: far-future event flushes hour 13.
    _write_events(spark, src, [_mkevent("v6", "F", "c1", TS.format(23, 0))])
    run()

    rows = {
        (r["window_start"].hour, r["vote_count"])
        for r in spark.read.parquet(out).collect()
    }
    assert (10, 2) in rows, rows  # late v4 excluded: count stayed 2
    assert (12, 1) in rows, rows
    assert (13, 1) in rows, rows


def test_continuous_aggregate_matches_batch(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    star = generator.generate_star(spark, n_voters=500, seed=5)
    events = generator.vote_events(
        star["vote"], star["voter"], star["candidate"]
    )
    envelope.write_envelope_json(events.repartition(4), src, "vote_id")

    stream = envelope.read_envelope_stream(
        spark, src, VOTE_EVENT, max_files_per_trigger=2
    )
    agg = jobs.votes_per_candidate(stream)
    q = jobs.start_to_memory(
        agg, "agg_votes", ckpt, output_mode="complete", trigger=AVAILABLE_NOW
    )
    q.awaitTermination(120)

    got = {
        (r["candidate_id"], r["vote_count"])
        for r in spark.sql("SELECT * FROM agg_votes").collect()
    }
    want = {
        (r["candidate_id"], r["count"])
        for r in events.groupBy("candidate_id").count().collect()
    }
    assert got == want

    # ST3 twin over the same files (fresh checkpoint).
    stream2 = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    q2 = jobs.start_to_memory(
        jobs.turnout_by_location(stream2),
        "agg_turnout",
        str(tmp_path / "ckpt2"),
        output_mode="complete",
        trigger=AVAILABLE_NOW,
    )
    q2.awaitTermination(120)
    got2 = {
        (r["address_state"], r["turnout"])
        for r in spark.sql("SELECT * FROM agg_turnout").collect()
    }
    want2 = {
        (r["address_state"], r["count"])
        for r in events.groupBy("address_state").count().collect()
    }
    assert got2 == want2


def test_ranked_snapshot_foreachbatch(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    star = generator.generate_star(spark, n_voters=300, seed=9)
    events = generator.vote_events(
        star["vote"], star["voter"], star["candidate"]
    )
    envelope.write_envelope_json(events, src, "vote_id")

    snapshots: dict[int, list] = {}

    def sink(df, epoch_id):
        snapshots[epoch_id] = df.collect()

    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    q = jobs.start_ranked_snapshot(
        jobs.votes_per_candidate(stream), ckpt, sink, trigger=AVAILABLE_NOW
    )
    q.awaitTermination(120)

    final = snapshots[max(snapshots)]
    assert [r["rank"] for r in sorted(final, key=lambda r: r["rank"])] == [
        1,
        2,
        3,
    ]
    by_rank = sorted(final, key=lambda r: r["rank"])
    assert by_rank[0]["vote_count"] >= by_rank[-1]["vote_count"]
    assert abs(sum(r["percentage"] for r in final) - 100.0) < 0.05


def test_ingest_throughput_beats_reference(spark, tmp_path):
    """BASELINE.md: nominal ingest ≤100 votes/s (0.01 s tick,
    data_generator.py:322). The streaming path must sustain ≥100 ev/s
    end-to-end (parse → dedup → aggregate) including job overhead.
    Runs the SAME shared harness bench.py reports (jobs.
    run_ingest_benchmark), so the certified pipeline and the recorded
    metric can never diverge."""
    rate, total, n = jobs.run_ingest_benchmark(spark, str(tmp_path))
    assert total == n
    assert rate >= 100, f"{rate:.0f} ev/s < 100 ev/s reference floor"


def test_session_windows_batch_and_stream(spark, tmp_path):
    """ST9: gap-based sessions. session_window works identically in batch
    (withWatermark is a no-op there) — asserted exactly — and streaming
    (finalized sessions via availableNow)."""
    rows = [
        _mkevent("v1", "A", "c1", TS.format(10, 0)),
        _mkevent("v2", "B", "c1", TS.format(10, 2)),
        _mkevent("v3", "C", "c1", TS.format(10, 4)),  # session 1: 3 votes
        _mkevent("v4", "D", "c1", TS.format(10, 20)),  # session 2: 1 vote
        _mkevent("v5", "E", "c1", TS.format(23, 0)),  # flush (stream case)
    ]
    batch = spark.createDataFrame(rows, VOTE_EVENT)
    got = {
        (r["session_start"].strftime("%H:%M"), r["session_end"].strftime("%H:%M"), r["vote_count"])
        for r in jobs.session_votes(batch, gap="5 minutes").collect()
        if r["session_start"].hour < 23
    }
    # a session closes gap minutes after its LAST event
    assert got == {("10:00", "10:09", 3), ("10:20", "10:25", 1)}

    src, out, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    _write_events(spark, src, rows[:4])
    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    _drain(
        jobs.session_votes(stream, gap="5 minutes"),
        jobs.start_to_parquet,
        out,
        ckpt,
    )
    _write_events(spark, src, rows[4:])  # advance watermark → flush
    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    _drain(
        jobs.session_votes(stream, gap="5 minutes"),
        jobs.start_to_parquet,
        out,
        ckpt,
    )
    streamed = {
        (r["session_start"].strftime("%H:%M"), r["vote_count"])
        for r in spark.read.parquet(out).collect()
        if r["session_start"].hour < 23
    }
    assert streamed == {("10:00", 3), ("10:20", 1)}


def test_cumulative_stateful_across_restarts(spark, tmp_path):
    """Q3-in-streaming: applyInPandasWithState running totals survive a
    checkpoint restart (state = one long per candidate)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def run(name):
        # foreachBatch sink: the memory sink refuses checkpoint recovery,
        # and restart-with-state is exactly what this test exercises.
        rows = []

        def sink(batch_df, _epoch):
            rows.extend(batch_df.collect())

        stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
        cum = jobs.cumulative_votes_stateful(stream, grain="minute")
        q = (
            cum.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["bucket"].strftime("%H:%M"), r["cumulative"])
            for r in rows
            if r["candidate_id"] == "c1"
        }

    _write_events(
        spark,
        src,
        [
            _mkevent("v1", "A", "c1", TS.format(10, 0)),
            _mkevent("v2", "B", "c1", TS.format(10, 0)),
            _mkevent("v3", "C", "c1", TS.format(10, 1)),
        ],
    )
    got1 = run("cum1")
    assert got1 == {("10:00", 2), ("10:01", 3)}

    _write_events(
        spark,
        src,
        [
            _mkevent("v4", "D", "c1", TS.format(10, 2)),
            _mkevent("v5", "E", "c2", TS.format(10, 2)),
        ],
    )
    # restart from checkpoint: c1's total=3 must be recovered, not rebuilt
    got2 = run("cum2")
    assert got2 == {("10:02", 4)}


def test_sliding_window_counts(spark, tmp_path):
    """ST4 sliding: size=1h slide=30m → every event lands in exactly two
    overlapping windows; counts per window follow from the half-open
    [start, end) membership."""
    src, out, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    _write_events(
        spark,
        src,
        [
            _mkevent("s1", "A", "c1", TS.format(10, 10)),  # 09:30+10:00 wins
            _mkevent("s2", "B", "c1", TS.format(10, 40)),  # 10:00+10:30 wins
            _mkevent("s3", "C", "c1", TS.format(23, 0)),   # flushes the above
        ],
    )
    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    win = jobs.windowed_votes(
        stream, size="1 hour", slide="30 minutes", watermark="10 minutes"
    )
    _drain(win, jobs.start_to_parquet, out, ckpt)
    got = {
        ((r["window_start"].hour, r["window_start"].minute), r["vote_count"])
        for r in spark.read.parquet(out).collect()
    }
    assert ((9, 30), 1) in got, got   # only s1
    assert ((10, 0), 2) in got, got   # s1 + s2
    assert ((10, 30), 1) in got, got  # only s2


def test_kafka_option_wiring():
    """Kafka transport builders (no broker in this environment — the
    execution path is covered by the file transport; these pin the option
    names the real deployment depends on)."""
    r = envelope.kafka_reader_options(
        "broker:29092", "votes_topic", starting_offsets="earliest",
        fail_on_data_loss=False, max_offsets_per_trigger=5000,
    )
    assert r == {
        "kafka.bootstrap.servers": "broker:29092",
        "subscribe": "votes_topic",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "5000",
    }
    w = envelope.kafka_writer_options(
        "broker:29092", "aggregated_votes_per_candidate", "/tmp/ck"
    )
    assert w == {
        "kafka.bootstrap.servers": "broker:29092",
        "topic": "aggregated_votes_per_candidate",
        "checkpointLocation": "/tmp/ck",
    }


def test_envelope_roundtrip_both_directions(spark):
    """The Kafka wire format in both directions batch-side: serialize
    (to_envelope — what write_stream_to_kafka emits) then parse
    (parse_envelope — what read_kafka_stream consumes) recovers the rows."""
    votes = generator.votes(
        spark, generator.voters(spark, n=50), ["c-1", "c-2", "c-3"]
    )
    enveloped = envelope.to_envelope(votes, "voter_id")
    assert enveloped.columns == ["key", "value"]
    back = envelope.parse_envelope(enveloped, votes.schema)
    a = sorted(map(tuple, votes.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_stream_static_enrichment_matches_batch_join(spark, tmp_path):
    """Stream-static broadcast join: votes arriving WITHOUT candidate
    attributes (the normalized layout the reference avoids by
    denormalizing) are enriched from the static candidate dim; result
    must equal the batch join, with unknown keys kept as NULL rows."""
    from pyspark.sql import functions as F

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    star = generator.generate_star(spark, n_voters=300, seed=9)
    events = generator.vote_events(
        star["vote"], star["voter"], star["candidate"]
    )
    envelope.write_envelope_json(events.repartition(3), src, "vote_id")

    dim = star["candidate"].select(
        "candidate_id",
        F.concat_ws(" ", "first_name", "last_name").alias("candidate_name"),
        "party",
    )
    # drop one candidate from the dim → its votes must survive NULL-enriched
    dim_partial = dim.filter(F.col("candidate_id") != "cand-000")

    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT).select(
        "vote_id", "voter_id", "candidate_id", "voted_at"
    )
    enriched = jobs.enrich_with_dim(
        stream, dim_partial, "candidate_id", ("candidate_name", "party")
    )
    q = jobs.start_to_memory(
        enriched, "enriched_votes", ckpt, trigger=AVAILABLE_NOW
    )
    q.awaitTermination(120)

    got = {
        (r["vote_id"], r["candidate_id"], r["candidate_name"], r["party"])
        for r in spark.sql("SELECT * FROM enriched_votes").collect()
    }
    want = {
        (r["vote_id"], r["candidate_id"], r["candidate_name"], r["party"])
        for r in events.select(
            "vote_id", "voter_id", "candidate_id", "voted_at"
        )
        .join(
            dim_partial.select("candidate_id", "candidate_name", "party"),
            "candidate_id",
            "left",
        )
        .collect()
    }
    assert got == want
    assert any(
        name is None for _, cid, name, _ in got if cid == "cand-000"
    )


def test_stream_stream_join_within_bound(spark, tmp_path):
    """Two file streams (registrations, votes) joined on voter_id with the
    vote required to fall within 1 hour AFTER the registration; result
    must equal the equivalent batch join — late/outside-bound pairs
    excluded, duplicate-free."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    REG = StructType(
        [
            StructField("voter_id", StringType()),
            StructField("registered_at", TimestampType()),
        ]
    )
    VOTE = StructType(
        [
            StructField("vote_id", StringType()),
            StructField("voter_id", StringType()),
            StructField("voted_at", TimestampType()),
        ]
    )
    t = lambda h, m: datetime.strptime(  # noqa: E731
        TS.format(h, m), "%Y-%m-%d %H:%M:%S"
    )
    regs = [("A", t(10, 0)), ("B", t(10, 30)), ("C", t(9, 0))]
    votes = [
        ("v1", "A", t(10, 45)),   # 45 min after reg → joins
        ("v2", "B", t(12, 0)),    # 90 min after reg → outside bound
        ("v3", "C", t(8, 30)),    # before registration → excluded
        ("v4", "D", t(10, 15)),   # no registration → excluded (inner)
    ]
    reg_src, vote_src, ckpt = (
        str(tmp_path / "regs"),
        str(tmp_path / "votes"),
        str(tmp_path / "ckpt"),
    )
    reg_df = spark.createDataFrame(regs, REG)
    vote_df = spark.createDataFrame(votes, VOTE)
    envelope.to_envelope(reg_df, "voter_id").write.json(reg_src)
    envelope.to_envelope(vote_df, "vote_id").write.json(vote_src)

    vstream = envelope.read_envelope_stream(spark, vote_src, VOTE)
    rstream = envelope.read_envelope_stream(spark, reg_src, REG)
    joined = jobs.stream_stream_join(
        vstream, rstream, "voter_id", "voted_at", "registered_at",
        within="1 hour",
    )
    q = jobs.start_to_memory(joined, "ss_join", ckpt, trigger=AVAILABLE_NOW)
    q.awaitTermination(120)

    got = {
        (r["vote_id"], r["voter_id"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    want = {
        (r["vote_id"], r["voter_id"])
        for r in vote_df.join(
            reg_df.withColumnRenamed("voter_id", "rv"),
            (F.col("voter_id") == F.col("rv"))
            & (F.col("registered_at") <= F.col("voted_at"))
            & (
                F.col("registered_at")
                >= F.col("voted_at") - F.expr("INTERVAL 1 hour")
            ),
        ).collect()
    }
    assert got == want == {("v1", "A")}


def test_stream_stream_left_outer_null_pads_after_watermark(spark, tmp_path):
    """ST15: leftOuter stream-stream join — unmatched votes are emitted
    NULL-padded once the watermark passes their match window. Sentinel
    waves on BOTH streams (watermark = min across inputs) push event time
    a day forward; maxFilesPerTrigger=1 sequences the waves into separate
    micro-batches so a later data batch runs with the advanced watermark
    and flushes the outer rows (the flush needs a batch AFTER the
    advance — a single-batch availableNow run would only see inner
    results)."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    REG = StructType(
        [
            StructField("voter_id", StringType()),
            StructField("registered_at", TimestampType()),
        ]
    )
    VOTE = StructType(
        [
            StructField("vote_id", StringType()),
            StructField("voter_id", StringType()),
            StructField("voted_at", TimestampType()),
        ]
    )
    t = lambda h, m: datetime.strptime(  # noqa: E731
        TS.format(h, m), "%Y-%m-%d %H:%M:%S"
    )
    far = lambda h: datetime.strptime(  # noqa: E731
        f"2024-11-06 {h:02d}:00:00", "%Y-%m-%d %H:%M:%S"
    )
    votes = [
        ("v1", "A", t(10, 45)),   # 45 min after reg → matches
        ("v2", "B", t(12, 0)),    # 90 min after reg → outside bound → NULL
        ("v3", "C", t(8, 30)),    # before registration → NULL
        ("v4", "D", t(10, 15)),   # no registration at all → NULL
    ]
    regs = [("A", t(10, 0)), ("B", t(10, 30)), ("C", t(9, 0))]
    reg_src, vote_src, ckpt = (
        str(tmp_path / "regs"),
        str(tmp_path / "votes"),
        str(tmp_path / "ckpt"),
    )

    def wave(rows, schema, dest, key):
        df = spark.createDataFrame(rows, schema)
        envelope.to_envelope(df, key).coalesce(1).write.mode("append").json(
            dest
        )

    wave(votes, VOTE, vote_src, "vote_id")
    wave(regs, REG, reg_src, "voter_id")
    for i, h in enumerate((12, 13)):  # two sentinel waves, both streams
        time.sleep(1.1)  # distinct mtimes → deterministic file order
        wave([(f"s{i}", f"S{i}", far(h))], VOTE, vote_src, "vote_id")
        wave([(f"SR{i}", far(h))], REG, reg_src, "voter_id")

    vstream = envelope.read_envelope_stream(
        spark, vote_src, VOTE, max_files_per_trigger=1
    )
    rstream = envelope.read_envelope_stream(
        spark, reg_src, REG, max_files_per_trigger=1
    )
    joined = jobs.stream_stream_join(
        vstream,
        rstream,
        "voter_id",
        "voted_at",
        "registered_at",
        within="1 hour",
        watermark="10 minutes",
        how="leftOuter",
    )
    q = jobs.start_to_memory(joined, "ss_outer", ckpt, trigger=AVAILABLE_NOW)
    q.awaitTermination(180)

    got = {
        (r["vote_id"], r["r_registered_at"])
        for r in spark.sql("SELECT * FROM ss_outer").collect()
        if not r["vote_id"].startswith("s")
    }
    want = {
        ("v1", t(10, 0)),
        ("v2", None),
        ("v3", None),
        ("v4", None),
    }
    assert got == want


def test_latest_state_upsert_across_restarts(spark, tmp_path):
    """ST10: the foreachBatch last-writer-wins state table applies newer
    events as upserts, keeps untouched keys, and survives a checkpoint
    restart (phase 2 is a NEW query object over the same checkpoint)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    def run():
        stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
        q = jobs.start_latest_state(
            stream,
            state,
            ckpt,
            key_cols=("voter_id",),
            ts_col="voted_at",
            tiebreak_cols=("vote_id",),
            trigger=AVAILABLE_NOW,
        )
        q.awaitTermination(120)
        assert not q.isActive

    _write_events(
        spark,
        src,
        [
            _mkevent("v1", "A", "c1", TS.format(10, 0)),
            _mkevent("v2", "A", "c2", TS.format(10, 5)),  # newer A → wins
            _mkevent("v3", "B", "c1", TS.format(10, 1)),
        ],
    )
    run()
    got = {
        r.voter_id: r.candidate_id
        for r in jobs.read_latest_state(spark, state).collect()
    }
    assert got == {"A": "c2", "B": "c1"}

    _write_events(
        spark,
        src,
        [
            _mkevent("v4", "A", "c3", TS.format(10, 9)),  # upsert A again
            _mkevent("v0", "A", "c9", TS.format(9, 0)),  # stale — must lose
            _mkevent("v5", "C", "c1", TS.format(10, 2)),  # new key
        ],
    )
    run()  # fresh query object, same checkpoint → restart recovery
    got = {
        r.voter_id: r.candidate_id
        for r in jobs.read_latest_state(spark, state).collect()
    }
    assert got == {"A": "c3", "B": "c1", "C": "c1"}


def test_stream_rate_cap_first_k_and_restart(spark, tmp_path):
    """Streaming rate cap: ≤3 events admitted per (voter, minute); the
    admitted counter survives a checkpoint restart, so a second batch in
    the same bucket admits nothing more. TS format seconds vary to pin
    the (ts, id) admission order."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def run():
        rows = []

        def sink(batch_df, _epoch):
            rows.extend(batch_df.collect())

        stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
        capped = jobs.rate_cap_stateful(stream, k=3, grain="minute")
        q = (
            capped.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    def at(sec):
        return f"2024-11-05 10:00:{sec:02d}"

    # five events for voter A in one minute, two for B
    _write_events(
        spark,
        src,
        [
            _mkevent(f"a{i}", "A", "c1", at(10 + i)) for i in range(5)
        ]
        + [_mkevent("b1", "B", "c1", at(30)), _mkevent("b2", "B", "c1", at(31))],
    )
    got1 = run()
    a_rows = sorted(r.vote_id for r in got1 if r.voter_id == "A")
    assert a_rows == ["a0", "a1", "a2"]  # first three by (ts, id)
    assert sorted(r.vote_id for r in got1 if r.voter_id == "B") == ["b1", "b2"]
    assert {r.rn for r in got1 if r.voter_id == "A"} == {1, 2, 3}

    # restart: same bucket → A admits nothing (counter recovered), B one
    # more; a NEW minute bucket admits afresh
    _write_events(
        spark,
        src,
        [
            _mkevent("a9", "A", "c1", at(50)),
            _mkevent("b3", "B", "c1", at(45)),
            _mkevent("a10", "A", "c1", "2024-11-05 10:01:05"),
        ],
    )
    got2 = run()
    ids2 = sorted(r.vote_id for r in got2)
    assert ids2 == ["a10", "b3"], ids2
    b3 = next(r for r in got2 if r.vote_id == "b3")
    assert b3.rn == 3
    a10 = next(r for r in got2 if r.vote_id == "a10")
    assert a10.rn == 1 and a10.bucket.minute == 1


def test_incremental_dedup_stream_admits_only_novel(spark, tmp_path):
    """ST11: within-batch dups collapse, index dups are rejected across
    restarts, and the admitted set is exactly the unique texts."""
    import glob
    import json
    import os

    src = str(tmp_path / "docs_src")
    idx = str(tmp_path / "docs_index")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")
    os.makedirs(src, exist_ok=True)

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string").json(src)
        )
        q = jobs.start_incremental_dedup(
            stream, idx, out, ckpt, trigger=AVAILABLE_NOW
        )
        q.awaitTermination(120)
        assert not q.isActive

    def admitted():
        files = glob.glob(f"{out}/v=*/*.parquet")
        if not files:
            return set()
        return {
            r.doc_id for r in spark.read.parquet(f"{out}/v=*").collect()
        }

    write_batch("b1.json", [(1, "alpha"), (2, "Alpha "), (3, "beta")])
    run()
    assert admitted() == {1, 3}

    write_batch("b2.json", [(4, "ALPHA"), (5, "gamma")])
    run()  # restart from checkpoint; index must reject the replayed text
    assert admitted() == {1, 3, 5}


def test_clean_stream_equals_batch_pipeline(spark, tmp_path):
    """ST12: streaming the curation filter over doc files yields exactly
    the rows the batch scorers keep (stateless ⇒ stream ≡ batch)."""
    import json
    import os

    src = str(tmp_path / "clean_src")
    out = str(tmp_path / "clean_out")
    ckpt = str(tmp_path / "clean_ckpt")
    os.makedirs(src, exist_ok=True)
    rows = [
        (1, "the cat and the dog went to the market and it is fine " * 4),
        (2, "zz"),                       # too short / low quality
        (3, "der hund und die katze das ist gut und der tag " * 5),
        (4, "the project of the team is to ship and the plan is good "
            "mail me at bob@example.com " * 3),
    ]
    with open(os.path.join(src, "d.json"), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = jobs.start_clean_stream(
        stream, out, ckpt, redact_pattern=r"[a-z0-9.]+@[a-z0-9.]+",
        trigger=AVAILABLE_NOW,
    )
    q.awaitTermination(120)

    got = {
        (r.doc_id, r.quality, r.pred_lang, r.clean_text)
        for r in spark.read.parquet(out).collect()
    }
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    expect = {
        (r.doc_id, r.quality, r.pred_lang, r.clean_text)
        for r in jobs.clean_doc_stream(
            batch, redact_pattern=r"[a-z0-9.]+@[a-z0-9.]+"
        ).collect()
    }
    assert got == expect and len(got) > 0
    assert all("@" not in t for (_, _, _, t) in got)


def test_transitions_stateful_matches_batch_lag(spark, tmp_path):
    """ST13: streamed transition pairs (incl. across a checkpoint restart
    and batch boundary) equal the batch lag-window computation."""
    import json
    import os

    src = str(tmp_path / "tr_src")
    ckpt = str(tmp_path / "tr_ckpt")
    os.makedirs(src, exist_ok=True)
    all_rows = []

    def write_batch(name, rows):
        all_rows.extend(rows)
        with open(os.path.join(src, name), "w") as f:
            for eid, uid, ts, et in rows:
                f.write(json.dumps(
                    {"event_id": eid, "user_id": uid, "ts": ts,
                     "event_type": et}) + "\n")

    got = set()

    def run():
        stream = spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        ).json(src)
        tr = jobs.transitions_stateful(stream)

        def sink(batch_df, _epoch):
            got.update(
                (r.user_id, r.prev_type, r.next_type)
                for r in batch_df.collect()
            )

        q = (
            tr.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1.json", [
        (1, 7, "2024-01-01 10:00:00", "view"),
        (2, 7, "2024-01-01 10:01:00", "click"),
        (3, 8, "2024-01-01 10:00:30", "view"),
    ])
    run()
    write_batch("b2.json", [
        (4, 7, "2024-01-01 10:02:00", "purchase"),  # prev = click via state
        (5, 8, "2024-01-01 10:03:00", "click"),
    ])
    run()  # restart from checkpoint

    from pyspark.sql.window import Window
    from pyspark.sql import functions as sf

    batch = spark.createDataFrame(
        [(e, u, t, et) for (e, u, t, et) in all_rows],
        "event_id long, user_id long, ts string, event_type string",
    ).withColumn("ts", sf.to_timestamp("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expect = {
        (r.user_id, r.prev_type, r.event_type)
        for r in batch.withColumn("prev_type", sf.lag("event_type").over(w))
        .filter(sf.col("prev_type").isNotNull())
        .collect()
    }
    assert got == expect and (7, "click", "purchase") in got


def test_vote_stream_datasource_end_to_end(spark, tmp_path):
    """Spark-4 Python DataSource transport: the deterministic vote stream
    feeds the real aggregation job; the sink holds exactly the replayable
    prefix (no gaps, no dups) and per-candidate counts match recomputing
    vote_event() in plain Python."""
    from realtime_voting_system_spark.sources import pyds

    pyds.register(spark)
    stream = (
        spark.readStream.format("vote_stream")
        .option("rows_per_batch", 40)
        .option("max_rows", 120)
        .load()
    )
    rows = []

    def sink(batch_df, _epoch):
        rows.extend(batch_df.collect())

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "pyds_ckpt"))
        .foreachBatch(sink)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 90
    while len(rows) < 120 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)

    got = sorted(r.vote_id for r in rows)
    assert got == [f"vote-{i:08d}" for i in range(120)]
    per_cand = {}
    for r in rows:
        per_cand[r.candidate_id] = per_cand.get(r.candidate_id, 0) + 1
    expect = {}
    for i in range(120):
        c = pyds.vote_event(i)[2]
        expect[c] = expect.get(c, 0) + 1
    assert per_cand == expect


def test_running_totals_tws_across_restarts(spark, tmp_path):
    """ST14 (transformWithStateInPandas): per-key running totals survive a
    checkpoint restart and equal the batch count over all phases.

    Environment gate: the new API's state protocol needs `protobuf`,
    absent from this container (same gate class as Kafka/Avro jars) —
    the job builder itself is exercised unconditionally below."""
    import pytest

    from realtime_voting_system_spark.streaming import jobs as _jobs

    # construction must always work (plan building needs no protobuf)
    import os as _os

    _os.makedirs(str(tmp_path / "tws_empty"), exist_ok=True)
    batch_like = spark.readStream.schema(
        "vote_id string, candidate_id string"
    ).json(str(tmp_path / "tws_empty"))
    assert _jobs.running_totals_tws(batch_like).schema.names == [
        "candidate_id", "total",
    ]
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("protobuf not installed — transformWithState runtime gated")
    import json
    import os

    src = str(tmp_path / "tws_src")
    ckpt = str(tmp_path / "tws_ckpt")
    os.makedirs(src, exist_ok=True)
    latest = {}

    def write_batch(name, pairs):
        with open(os.path.join(src, name), "w") as f:
            for i, cand in enumerate(pairs):
                f.write(json.dumps(
                    {"vote_id": f"{name}-{i}", "candidate_id": cand}) + "\n")

    def run():
        stream = spark.readStream.schema(
            "vote_id string, candidate_id string"
        ).json(src)
        tot = jobs.running_totals_tws(stream)

        def sink(batch_df, _epoch):
            for r in batch_df.collect():
                latest[r.candidate_id] = r.total

        q = (
            tot.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1.json", ["c1", "c1", "c2"])
    run()
    assert latest == {"c1": 2, "c2": 1}
    write_batch("b2.json", ["c1", "c3"])
    run()  # restart: totals continue from recovered state
    assert latest == {"c1": 3, "c2": 1, "c3": 1}


def test_heavy_hitters_stateful_bound_across_restart(spark, tmp_path):
    """ST16: the streaming Misra-Gries summary (latest generation per
    key) satisfies the per-key MG bound over EVERYTHING streamed so far —
    including items folded before a checkpoint restart: weights never
    exceed true counts, underestimate by ≤ N_key/(k+1), and every item
    above that threshold is present."""
    import json
    import os

    src = str(tmp_path / "hh_src")
    ckpt = str(tmp_path / "hh_ckpt")
    os.makedirs(src, exist_ok=True)
    true: dict = {}
    k = 8

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for key, tok, ts in rows:
                true.setdefault(key, {})
                true[key][tok] = true[key].get(tok, 0) + 1
                f.write(
                    json.dumps({"event_type": key, "token": tok, "ts": ts})
                    + "\n"
                )

    latest: dict = {}

    def run():
        stream = spark.readStream.schema(
            "event_type string, token string, ts timestamp"
        ).json(src)
        hh = jobs.heavy_hitters_stateful(stream, k=k)

        def sink(batch_df, _epoch):
            for r in batch_df.collect():
                key = r["event_type"]
                cur = latest.setdefault(key, {"gen": -1, "items": {}})
                if r.gen > cur["gen"]:
                    cur["gen"], cur["items"] = r.gen, {}
                if r.gen == cur["gen"]:
                    cur["items"][r.item] = r.weight

        q = (
            hh.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    ts = "2024-01-01 10:00:00"
    # skewed stream: "hot" dominates, long tail of rare tokens
    wave1 = [("click", "hot", ts)] * 30 + [
        ("click", f"rare{i}", ts) for i in range(12)
    ]
    write_batch("b1.json", wave1)
    run()
    wave2 = [("click", "hot", ts)] * 20 + [("click", "warm", ts)] * 15 + [
        ("click", f"tail{i}", ts) for i in range(10)
    ]
    write_batch("b2.json", wave2)
    run()  # restart from checkpoint — state must carry wave1's folds

    got = latest["click"]["items"]
    truth = true["click"]
    n = sum(truth.values())
    err = n / (k + 1)
    assert len(got) <= k
    for item, w in got.items():
        assert w <= truth[item], (item, w)
        assert w >= truth[item] - err, (item, w)
    for item, c in truth.items():
        if c > err:
            assert item in got, (item, c, err)
    assert "hot" in got and got["hot"] >= 50 - err


def test_dq_monitor_stream_matches_batch_gate(spark, tmp_path):
    """ST17: windowed streaming expectation report ≡ the batch gate run
    per window — including NULL-as-violation — once the watermark flushes
    the windows (far-future sentinel)."""
    import json
    import os

    src = str(tmp_path / "dq_src")
    ckpt = str(tmp_path / "dq_ckpt")
    os.makedirs(src, exist_ok=True)
    rules = [
        ("value_nonneg", "value >= 0"),
        ("value_present", "value IS NOT NULL"),
    ]
    rows = [
        ("2024-01-01 10:05:00", 1.0),
        ("2024-01-01 10:10:00", -2.0),   # violates nonneg
        ("2024-01-01 10:20:00", None),   # violates both (NULL check fails)
        ("2024-01-01 11:30:00", 5.0),
        ("2024-01-02 09:00:00", 0.0),    # sentinel: flushes hour 10/11
    ]
    with open(os.path.join(src, "b1.json"), "w") as f:
        for ts, v in rows:
            f.write(json.dumps({"ts": ts, "value": v}) + "\n")

    stream = spark.readStream.schema("ts timestamp, value double").json(src)
    mon = jobs.dq_monitor_stream(stream, rules, watermark="10 minutes")
    q = jobs.start_to_memory(mon, "dq_mon", ckpt, trigger=AVAILABLE_NOW)
    q.awaitTermination(120)

    got = {
        (r.window_start.hour, r.rule): (r.n_rows, r.n_violations, r.pass_rate)
        for r in spark.sql("SELECT * FROM dq_mon").collect()
    }
    # hour 10: 3 rows; nonneg fails for -2 and NULL; present fails for NULL
    assert got[(10, "value_nonneg")] == (3, 2, 1.0 / 3.0)
    assert got[(10, "value_present")] == (3, 1, 2.0 / 3.0)
    assert got[(11, "value_nonneg")] == (1, 0, 1.0)


def test_envelope_quarantine_partitions_input(spark, tmp_path):
    """ST18: malformed envelope values (broken JSON, schema-less JSON,
    missing key field) land in the quarantine lane with raw bytes
    preserved; valid rows parse typed — the two lanes partition the
    input exactly, in batch and as a stream."""
    import json
    import os

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    SCHEMA = StructType(
        [
            StructField("vote_id", StringType()),
            StructField("n", IntegerType()),
        ]
    )
    rows = [
        ("k1", json.dumps({"vote_id": "v1", "n": 1})),        # good
        ("k2", "{not json at all"),                            # broken JSON
        ("k3", json.dumps({"other": "shape"})),               # missing key
        ("k4", json.dumps({"vote_id": "v4", "n": None})),     # good, NULL n
        ("k5", None),                                          # NULL value
    ]
    df = spark.createDataFrame(rows, "key string, value string")
    good, bad = envelope.parse_envelope_quarantined(df, SCHEMA, "vote_id")
    got_good = {(r.vote_id, r.n) for r in good.collect()}
    got_bad = {r.key for r in bad.collect()}
    assert got_good == {("v1", 1), ("v4", None)}
    assert got_bad == {"k2", "k3", "k5"}
    # raw payload survives for replay
    raw = {r.key: r.value for r in bad.collect()}
    assert raw["k2"] == "{not json at all"

    # same split on a stream: each lane drains to its own sink
    src = str(tmp_path / "q_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b.json"), "w") as f:
        for k, v in rows:
            f.write(json.dumps({"key": k, "value": v}) + "\n")
    stream = spark.readStream.schema("key string, value string").json(src)
    sgood, sbad = envelope.parse_envelope_quarantined(stream, SCHEMA, "vote_id")
    q1 = jobs.start_to_memory(
        sgood, "q_good", str(tmp_path / "c1"), trigger=AVAILABLE_NOW
    )
    q1.awaitTermination(120)
    q2 = jobs.start_to_memory(
        sbad, "q_bad", str(tmp_path / "c2"), trigger=AVAILABLE_NOW
    )
    q2.awaitTermination(120)
    assert {
        (r.vote_id, r.n) for r in spark.sql("SELECT * FROM q_good").collect()
    } == got_good
    assert {
        r.key for r in spark.sql("SELECT * FROM q_bad").collect()
    } == got_bad


def _kafka_broker() -> str | None:
    """Live broker address if one is reachable, else None. Set
    KAFKA_BOOTSTRAP=host:port to opt in; the socket probe keeps the skip
    instant when no broker exists (this sandbox)."""
    import os
    import socket

    addr = os.environ.get("KAFKA_BOOTSTRAP")
    if not addr or ":" not in addr:
        return None
    host, port = addr.rsplit(":", 1)
    try:
        with socket.create_connection((host, int(port)), timeout=2):
            return addr
    except OSError:
        return None


@pytest.mark.skipif(
    _kafka_broker() is None,
    reason="no live Kafka broker (set KAFKA_BOOTSTRAP=host:port to enable)",
)
def test_kafka_live_end_to_end(spark, tmp_path):
    """S4 closure the day the environment provides a broker + the
    spark-sql-kafka package: produce envelope rows INTO a topic through
    the Kafka batch sink, then read_kafka_stream → parse_envelope →
    windowed aggregate, and check totals. Mirrors the reference's
    producer→consumer loop (data_generator.py:151-157 / README.md:110-118)
    over the same envelope the file-transport tests pin."""
    servers = _kafka_broker()
    topic = f"rtvs_it_{int(time.time())}"
    star = generator.generate_star(spark, n_voters=200, seed=21)
    events = generator.vote_events(
        star["vote"], star["voter"], star["candidate"]
    )
    try:
        envelope.to_envelope(events, "vote_id").write.format("kafka").option(
            "kafka.bootstrap.servers", servers
        ).option("topic", topic).save()
    except Exception as exc:  # package missing is an env gap, not a bug
        if "Failed to find data source" in str(exc):
            pytest.skip("spark-sql-kafka package not on the classpath")
        raise
    stream = envelope.read_kafka_stream(
        spark, servers, topic, VOTE_EVENT, starting_offsets="earliest"
    )
    agg = jobs.votes_per_candidate(jobs.dedup_votes(stream))
    q = jobs.start_to_memory(
        agg,
        "kafka_live_votes",
        str(tmp_path / "ckpt"),
        output_mode="complete",
        trigger=AVAILABLE_NOW,
    )
    q.awaitTermination(120)
    total = spark.sql(
        "SELECT SUM(vote_count) AS s FROM kafka_live_votes"
    ).collect()[0]["s"]
    assert total == events.count()


def test_st6_late_data_kept_and_dropped(spark):
    """ST6 semantics, asserted structurally (the value-hash gate covers
    the exact counts; this test pins WHY the output looks like it does):
    the slightly-late events (90 s < the 2 min allowance) land in a
    pre-epoch window that only they can populate, the very-late events
    (600 s) must NOT create their 09:5x windows, and nothing past the
    final watermark's emission frontier appears in the append sink."""
    from datetime import datetime

    from realtime_voting_system_spark.plans.parity import (
        QUERIES,
        _st6_expected_rows,
    )

    rows = QUERIES["st6_pyds_late_data"](spark, "unused").collect()
    assert len(rows) == _st6_expected_rows()
    starts = {r.window_start for r in rows}
    # the kept slightly-late event (i=40, ts 09:59:10) created this window
    assert datetime(2024, 1, 1, 9, 59) in starts
    # the dropped very-late events (09:51:20 / 09:52:40) created nothing
    assert not any(s < datetime(2024, 1, 1, 9, 59) for s in starts)
    # emission frontier: final watermark = 10:03:19 − 2 min = 10:01:19 →
    # no window ending after it (i.e. none starting at/after 10:01)
    assert all(s < datetime(2024, 1, 1, 10, 1) for s in starts)
    # and every emitted window is complete: counts are positive longs
    assert all(r.vote_count > 0 for r in rows)


def test_pyds_late_shift_pattern():
    """late_shift: very-late precedence on overlapping multiples, i=0
    anchor never shifted, replay determinism via pure function of i."""
    from realtime_voting_system_spark.sources.pyds import (
        late_shift,
        vote_event,
    )

    assert late_shift(0, 40, 90, 80, 600) == 0
    assert late_shift(40, 40, 90, 80, 600) == 90
    assert late_shift(80, 40, 90, 80, 600) == 600  # both match → very
    assert late_shift(120, 40, 90, 80, 600) == 90
    assert late_shift(41, 40, 90, 80, 600) == 0
    base = vote_event(40)
    shifted = vote_event(40, 90)
    assert (base[4] - shifted[4]).total_seconds() == 90
    assert base[:4] == shifted[:4]  # only the timestamp moves


def test_pyds_replay_pattern():
    """Replay option: position i re-delivers event i-offset verbatim
    (same vote_id/voter/candidate/event time); non-multiples and the
    pre-offset prefix are untouched."""
    from realtime_voting_system_spark.sources.pyds import (
        VoteStreamReader,
        vote_event,
    )

    r = VoteStreamReader(
        {"rows_per_batch": "200", "max_rows": "40",
         "replay_every": "10", "replay_offset": "5"}
    )
    rows, end = r.read({"i": 0})
    rows = list(rows)
    assert end == {"i": 40}
    assert rows[10] == vote_event(5)
    assert rows[20] == vote_event(15)
    assert rows[30] == vote_event(25)
    for j in (0, 1, 5, 9, 11, 19, 39):
        assert rows[j] == vote_event(j)


def test_vote_sink_commit_manifest_isolation(spark, tmp_path):
    """The sink's exactly-once contract: only manifest-committed files
    are visible; staged orphans (a crashed/aborted attempt) are not."""
    import json
    import os

    from realtime_voting_system_spark.sources import pyds

    out = str(tmp_path / "sink")
    schema = (
        "vote_id string, voter_id string, candidate_id string, "
        "address_state string, voted_at string"
    )
    pyds.register(spark)
    pyds.register_sink(spark)
    stream = (
        spark.readStream.format("vote_stream")
        .option("rows_per_batch", 30)
        .option("max_rows", 60)
        .load()
    )
    q = (
        stream.writeStream.format("vote_sink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        if pyds.read_committed(spark, out, schema).count() == 60:
            break
        time.sleep(0.1)
    q.stop()
    committed = pyds.read_committed(spark, out, schema)
    assert committed.count() == 60
    # exactly once: no duplicate deliveries across staged retries
    assert committed.select("vote_id").distinct().count() == 60
    # plant an orphaned staged file (simulating a failed attempt that
    # never reached commit) — must stay invisible
    orphan = os.path.join(out, "_staged", "part-9-9999-deadbeef.jsonl")
    with open(orphan, "w") as fh:
        fh.write(json.dumps({"vote_id": "vote-bogus"}) + "\n")
    assert pyds.read_committed(spark, out, schema).count() == 60
    # manifests reference only files that exist
    for man in os.listdir(os.path.join(out, "_commits")):
        with open(os.path.join(out, "_commits", man)) as fh:
            for f in json.load(fh)["files"]:
                assert os.path.exists(f)


def test_partitioned_source_matches_simple_reader(spark, tmp_path):
    """vote_stream_dist (executor-side partitioned reads) must deliver
    the SAME event set as the Simple driver-side reader — no loss, no
    duplication across partition slices or micro-batches."""
    import time

    from pyspark.sql import functions as F

    from realtime_voting_system_spark.sources import pyds
    from realtime_voting_system_spark.streaming import jobs

    pyds.register_dist(spark)
    stream = (
        spark.readStream.format("vote_stream_dist")
        .option("rows_per_batch", 30)
        .option("max_rows", 90)
        .option("num_partitions", 3)
        .load()
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.format("memory")
        .queryName("dist_probe")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.table("dist_probe").count() == 90:
            break
        time.sleep(0.1)
    q.stop()
    got = {
        (r.vote_id, r.voter_id, r.candidate_id, r.address_state,
         r.voted_at)
        for r in spark.table("dist_probe").collect()
    }
    expected = {pyds.vote_event(i) for i in range(90)}
    assert got == expected


def test_changefeed_apply_with_tombstones_across_restarts(spark, tmp_path):
    """Streaming CDC MERGE apply (s15's foreachBatch twin): upserts land,
    a delete persists as a tombstone that rejects a STALE lower-seq
    update replayed in a LATER batch, untouched keys survive, and the
    whole state recovers across a checkpoint restart (phase 2 is a new
    query object on the same checkpoint)."""
    src = str(tmp_path / "cdc_src")
    ckpt = str(tmp_path / "cdc_ckpt")
    state = str(tmp_path / "cdc_state")
    schema = "k long, seq long, op string, val string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.start_latest_state(
            stream, state, ckpt, key_cols=("k",), ts_col="seq",
            tiebreak_cols=(), trigger=AVAILABLE_NOW,
        )
        q.awaitTermination(120)
        assert not q.isActive

    feed([(1, 10, "I", "a1"), (2, 11, "I", "b1"), (1, 12, "U", "a2")])
    run()
    view = {r.k: r.val for r in jobs.read_changefeed_state(spark, state).collect()}
    assert view == {1: "a2", 2: "b1"}  # within-batch compaction: a2 wins

    feed([
        (2, 20, "D", None),   # delete key 2
        (2, 15, "U", "b9"),   # STALE (seq 15 < 20) — tombstone must win
        (3, 21, "I", "c1"),   # new key
    ])
    run()  # fresh query object, same checkpoint → restart recovery
    view = {r.k: r.val for r in jobs.read_changefeed_state(spark, state).collect()}
    assert view == {1: "a2", 3: "c1"}  # 2 deleted and NOT resurrected

    # the tombstone is physically retained with its seq (GC is policy)
    snap = jobs._latest_state_snapshot(spark, state)
    tomb = [r for r in snap.collect() if r.op == "D"]
    assert len(tomb) == 1 and tomb[0].k == 2 and tomb[0].seq == 20


def test_latest_state_file_uri_state_dir(spark, tmp_path):
    """A ``file://`` state_dir names the same local directory as its
    path: each batch merges onto the previous snapshot (not onto an
    empty state), read_latest_state sees the state through the URI,
    superseded versions are pruned to 2, and any other scheme is
    refused before the stream starts."""
    import os

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = tmp_path / "state"
    uri = f"file://{state}"
    schema = "k long, seq long, val string"

    def run(rows, state_dir=uri):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.start_latest_state(
            stream, state_dir, ckpt, key_cols=("k",), ts_col="seq",
            tiebreak_cols=(), trigger=AVAILABLE_NOW,
        )
        q.awaitTermination(120)
        assert not q.isActive

    run([(1, 1, "a")])
    run([(2, 2, "b")])
    got = {r.k: r.val for r in jobs.read_latest_state(spark, uri).collect()}
    assert got == {1: "a", 2: "b"}
    run([(3, 3, "c")])
    assert sorted(os.listdir(state)) == ["v=1", "v=2"]
    got = {r.k: r.val for r in jobs.read_latest_state(spark, uri).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    with pytest.raises(ValueError, match="local directory"):
        run([(4, 4, "d")], state_dir="s3://bucket/state")


def test_session_stream_checkpoint_recovery_pyds(spark, tmp_path):
    """ST30 restart contract: the live session-window stream runs capped
    at half the events (phase 1 — deterministic stop with sessions still
    OPEN in the state store: the trailing burst's end is above the
    phase-1 watermark), then restarts from the SAME checkpoint with the
    cap lifted. The restart must restore open sessions from checkpointed
    state, never re-emit phase-1 sessions into the exactly-once parquet
    sink, and converge to the batch sessionize twin filtered by the
    final watermark frontier."""
    from datetime import timedelta

    from realtime_voting_system_spark.plans.parity import _ST30, _run_gate
    from realtime_voting_system_spark.sources import pyds
    from realtime_voting_system_spark.sources.pyds import (
        burst_shift,
        vote_event,
    )

    cfg = _ST30
    pyds.register(spark)

    def build(max_rows):
        stream = (
            spark.readStream.format("vote_stream")
            .option("rows_per_batch", cfg["rpb"])
            .option("max_rows", max_rows)
            .option("burst_size", cfg["burst"])
            .option("burst_gap_s", cfg["gap_s"])
            .load()
        )
        parsed = envelope.parse_envelope(
            envelope.to_envelope(stream, "vote_id"), stream.schema
        )
        return jobs.session_votes(
            parsed,
            gap=f"{cfg['session_gap_s']} seconds",
            watermark=f"{cfg['delay_ms']} milliseconds",
            ts_col="voted_at",
            group_cols=("address_state",),
        )

    def expected(n):
        last = {}
        ts = []
        for i in range(n):
            t = (i // cfg["burst"]) * cfg["gap_s"] + (i % cfg["burst"])
            s = vote_event(i, burst_shift(i, cfg["burst"], cfg["gap_s"]))[3]
            ts.append(t)
            key = (s, t // cfg["gap_s"])
            last[key] = max(last.get(key, -1), t)
        wm = max(ts) - cfg["delay_ms"] / 1000.0
        return sum(1 for t in last.values() if t + cfg["session_gap_s"] <= wm)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    half = cfg["n"] // 2

    def run_until(max_rows, want):
        sessions = build(max_rows)
        # explicit schema: a sink whose committed batches wrote no file
        # yet reads as empty instead of failing schema inference
        _run_gate(
            spark, "st30_restart",
            lambda ck: jobs.start_to_parquet(
                sessions, out, ck, output_mode="append",
                trigger={"processingTime": "0 seconds"},
            ),
            lambda: spark.read.schema(sessions.schema).parquet(out).count()
            == want,
            ckpt,
        )

    p1, p2 = expected(half), expected(cfg["n"])
    assert 0 < p1 < p2  # phase 1 leaves sessions open for the restart
    run_until(half, p1)
    run_until(cfg["n"], p2)

    # final sink == batch twin (same operator code, batch mode) behind
    # the final-watermark emission frontier — and exactly once: counts
    # equal, no phase-1 session appears twice
    rows = [
        vote_event(i, burst_shift(i, cfg["burst"], cfg["gap_s"]))
        for i in range(cfg["n"])
    ]
    batch = spark.createDataFrame(
        [(r[3], r[4]) for r in rows],
        "address_state string, voted_at timestamp",
    )
    twin = jobs.session_votes(
        batch, gap=f"{cfg['session_gap_s']} seconds",
        group_cols=("address_state",),
    )
    final_wm = max(r[4] for r in rows) - timedelta(
        milliseconds=cfg["delay_ms"]
    )
    want = {
        (r.session_start, r.session_end, r.address_state, r.vote_count)
        for r in twin.collect()
        if r.session_end <= final_wm
    }
    sunk = [
        (r.session_start, r.session_end, r.address_state, r.vote_count)
        for r in spark.read.parquet(out).collect()
    ]
    assert len(sunk) == len(set(sunk)) == p2  # exactly once
    assert set(sunk) == want


def test_pyds_burst_pattern():
    """burst_shift: event times arrive in bursts — burst_size events 1 s
    apart, bursts burst_gap_s apart; identity when off; only the
    timestamp moves; composes with the reader options."""
    from realtime_voting_system_spark.sources.pyds import (
        VoteStreamReader,
        burst_shift,
        vote_event,
    )

    assert burst_shift(7) == 0  # off → identity timeline
    # B=10, G=120: i=9 → t=9; i=10 → t=120; i=25 → t=245
    assert 9 - burst_shift(9, 10, 120) == 9
    assert 10 - burst_shift(10, 10, 120) == 120
    assert 25 - burst_shift(25, 10, 120) == 245
    base, shifted = vote_event(10), vote_event(10, burst_shift(10, 10, 120))
    assert (shifted[4] - base[4]).total_seconds() == 110  # stretched
    assert base[:4] == shifted[:4]
    r = VoteStreamReader(
        {"rows_per_batch": "30", "max_rows": "30",
         "burst_size": "10", "burst_gap_s": "120"}
    )
    rows, _ = r.read({"i": 0})
    rows = list(rows)
    deltas = [
        (rows[j + 1][4] - rows[j][4]).total_seconds() for j in range(29)
    ]
    assert all(d == 1 for j, d in enumerate(deltas) if (j + 1) % 10 != 0)
    assert all(d == 111 for j, d in enumerate(deltas) if (j + 1) % 10 == 0)


def test_st34_ann_serving_restart_seam(spark, sf_dir):
    """ST34's crash seam (judge r10 #5): the query stream stops after 10
    of 20 queries, ALL process state is discarded, and phase 2 restarts
    from the same checkpoint with the IvfIndex RELOADED from its saved
    artifacts and the served history recovered from the per-epoch atomic
    snapshots. rpb=7 puts the crash mid-epoch-schedule (7/3 then 7/7/6
    replay boundaries), so phase 2 both resumes unserved queries and
    skips an already-served retried epoch. The union must be
    hash-identical to the uninterrupted batch answer (st34's DuckDB
    oracle) — a re-served epoch duplicates top-k rows, a dropped one
    loses a query, a stale index mis-ranks."""
    from realtime_voting_system_spark.plans.parity import ORACLE_SQL
    from realtime_voting_system_spark.plans.scale_ops import _st34_serve

    from .oracle import assert_frames_match, duckdb_run

    got = _st34_serve(
        spark, sf_dir, phases=[(10, False), (20, True)]
    ).toPandas()
    want = duckdb_run(ORACLE_SQL["st34_pyds_ann_stream_serving"], sf_dir)
    assert_frames_match(got, want, "st34_restart")
