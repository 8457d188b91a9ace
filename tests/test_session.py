"""``session``: which conf refusals ``tune`` skips and which it raises,
the streaming checkpoint manager ``get_spark`` sets, and its two shuffle
widths (batch plans at AQE's initial partition number, streams at
``LOCAL_STREAM_WIDTH``)."""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import IllegalArgumentException

from realtime_voting_system_spark import session
from realtime_voting_system_spark.schemas import VOTE_EVENT
from realtime_voting_system_spark.streaming import envelope, jobs

from .conftest import BATCH_WIDTH, exchange_widths

STREAM_WIDTH = "spark.sql.shuffle.partitions"


def test_tune_skips_static_keys(spark, monkeypatch):
    tz = spark.conf.get("spark.sql.session.timeZone")
    monkeypatch.setattr(
        session,
        "_RUNTIME_CONF",
        {
            "spark.sql.codegen.cache.maxEntries": "1000",
            "spark.sql.session.timeZone": "America/Chicago",
        },
    )
    try:
        session.tune(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "America/Chicago"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_tune_raises_on_invalid_value(spark, monkeypatch):
    monkeypatch.setattr(
        session, "_RUNTIME_CONF", {"spark.sql.adaptive.enabled": "maybe"}
    )
    with pytest.raises(IllegalArgumentException):
        session.tune(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def _vote(vote_id, voter_id, cand, minute):
    return (
        vote_id, voter_id, cand, datetime(2024, 11, 5, 10, minute), 1,
        f"Voter {voter_id}", f"Cand {cand}", "Management Party", "Ohio",
    )


FIRST_VOTES = [_vote("v1", "A", "c1", 0), _vote("v2", "B", "c1", 1),
               _vote("v3", "C", "c2", 2), _vote("v4", "A", "c2", 3)]
MORE_VOTES = [_vote("v5", "A", "c2", 4), _vote("v6", "D", "c2", 5),
              _vote("v7", "E", "c1", 6)]


def _publish(spark, src, rows):
    df = spark.createDataFrame(rows, VOTE_EVENT)
    envelope.to_envelope(df.coalesce(1), "vote_id").write.mode(
        "append"
    ).json(src)


def _count_votes(spark, src, ckpt):
    """Run dedup → votes_per_candidate over ``src`` until it is drained
    (restarting from ``ckpt``): the counts per candidate, and the state
    store instances of each stateful operator in each data micro-batch."""
    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    q = jobs.start_to_memory(
        jobs.votes_per_candidate(jobs.dedup_votes(stream)),
        "vote_counts", ckpt, output_mode="complete",
        trigger={"availableNow": True},
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    stores = {
        op["numStateStoreInstances"]
        for p in q.recentProgress if p["numInputRows"]
        for op in p["stateOperators"]
    }
    counts = {
        r.candidate_id: r.vote_count
        for r in spark.sql("SELECT * FROM vote_counts").collect()
    }
    return counts, stores


def test_batch_plans_shuffle_at_initial_partition_number(spark):
    """Batch plans take AQE's initial partition number (the suite's 8),
    not spark.sql.shuffle.partitions, which is the stream width."""
    assert spark.conf.get(STREAM_WIDTH) == str(session.LOCAL_STREAM_WIDTH)
    assert spark.conf.get(BATCH_WIDTH) == "8"
    df = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    assert exchange_widths(df) == {8}
    assert len(df.collect()) == 7


def test_streams_commit_one_state_store_per_operator(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _publish(spark, src, FIRST_VOTES)
    counts, stores = _count_votes(spark, src, ckpt)
    assert counts == {"c1": 2, "c2": 1}
    assert stores == {session.LOCAL_STREAM_WIDTH} == {1}
    # one partition directory per operator: dedup and count
    assert len(glob.glob(f"{ckpt}/state/*/[0-9]*")) == 2


def test_tune_leaves_both_widths_alone(spark):
    """tune() is for sessions it did not build, whose streams may run on
    a cluster: neither width is its business."""
    widths = {k: spark.conf.get(k) for k in (STREAM_WIDTH, BATCH_WIDTH)}
    session.tune(spark)
    assert {k: spark.conf.get(k) for k in widths} == widths
    assert not set(widths) & set(session._RUNTIME_CONF)


def test_checkpoint_width_wins_on_restart(spark, tmp_path):
    """A stream first started at width 4 keeps 4 state stores per
    operator after a restart on a width-1 session: the width is recorded
    in the checkpoint's offset log."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _publish(spark, src, FIRST_VOTES)
    spark.conf.set(STREAM_WIDTH, "4")
    try:
        counts, stores = _count_votes(spark, src, ckpt)
    finally:
        spark.conf.set(STREAM_WIDTH, str(session.LOCAL_STREAM_WIDTH))
    assert (counts, stores) == ({"c1": 2, "c2": 1}, {4})
    _publish(spark, src, MORE_VOTES)
    counts, stores = _count_votes(spark, src, ckpt)
    assert (counts, stores) == ({"c1": 3, "c2": 2}, {4})


def test_local_checkpoints_commit_through_filesystem_manager(spark, tmp_path):
    """get_spark commits streaming checkpoints through the FileSystem
    manager (no fork per rename without libhadoop), and the checkpoint
    keeps its contract under it: a dedup → count stream stops, restarts
    on new files from its checkpoint, and counts each voter once; the
    state store keeps Spark's checksum sidecars and Hadoop's .crc files;
    an atomic create onto an existing file fails on close instead of
    overwriting it."""
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == session.LOCAL_CHECKPOINT_MANAGER
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _publish(spark, src, FIRST_VOTES)
    assert _count_votes(spark, src, ckpt)[0] == {"c1": 2, "c2": 1}
    # restart on new files: A's replay is dropped by the recovered state
    _publish(spark, src, MORE_VOTES)
    assert _count_votes(spark, src, ckpt)[0] == {"c1": 3, "c2": 2}

    deltas = sorted(glob.glob(f"{ckpt}/state/*/*/*.delta"))
    assert deltas
    for delta in deltas:
        d, name = os.path.split(delta)
        assert os.path.exists(f"{d}/{name}.crc")  # Spark checksum sidecar
        assert os.path.exists(f"{d}/.{name}.crc")  # Hadoop checksum

    jvm = spark._jvm
    offset = jvm.org.apache.hadoop.fs.Path(f"file://{ckpt}/offsets/0")
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    fm = manager.CheckpointFileManager.create(
        offset.getParent(), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert fm.getClass().getName() == session.LOCAL_CHECKPOINT_MANAGER
    before = (tmp_path / "ckpt/offsets/0").read_bytes()
    out = fm.createAtomic(offset, False)
    out.write(0)
    with pytest.raises(Py4JJavaError, match="already exists"):
        out.close()
    assert (tmp_path / "ckpt/offsets/0").read_bytes() == before
