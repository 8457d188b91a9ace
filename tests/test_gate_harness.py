"""Spark-free tests of the streaming-gate run helper (plans/parity._run_gate):
fake session and query objects pin the lifecycle contract every st* gate
relies on — the gate conf is in force while the query runs and restored
after (a key the caller never set, such as the checkpoint manager class
here, is unset again), the query is always stopped, a missed deadline
raises TimeoutError, and a dead stream's exception surfaces at once."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from realtime_voting_system_spark import session
from realtime_voting_system_spark.plans import parity

CALLER_CONF = {
    "spark.sql.shuffle.partitions": "200",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "true",
    "spark.sql.streaming.multipleWatermarkPolicy": "min",
}


class FakeConf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, key, default):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        del self.values[key]


def fake_spark():
    return SimpleNamespace(conf=FakeConf(CALLER_CONF))


class FakeQuery:
    """Each awaitTermination() call commits one micro-batch; ``finishes``
    is what a self-terminating wait returns; ``error`` is raised by it
    like a StreamingQueryException from a dead stream."""

    def __init__(self, spark, finishes=True, error=None):
        self.conf_at_start = dict(spark.conf.values)
        self.finishes, self.error = finishes, error
        self.lastProgress = None
        self.waits, self.stops = 0, 0

    def awaitTermination(self, timeout=None):
        self.waits += 1
        if self.error is not None:
            raise self.error
        self.lastProgress = {"batchId": self.waits - 1}
        return self.finishes

    def stop(self):
        self.stops += 1


def run(spark, done=None, conf=None, **query_kw):
    started = []

    def start(ckpt):
        assert ckpt == "ckpt-dir"
        started.append(FakeQuery(spark, **query_kw))
        return started[-1]

    try:
        return parity._run_gate(
            spark, "gate", start, done, ckpt="ckpt-dir", conf=conf
        ), started[-1]
    finally:
        assert spark.conf.values == CALLER_CONF  # restored on every path
        assert all(q.stops == 1 for q in started)  # always stopped


@pytest.fixture
def short_deadline(monkeypatch):
    monkeypatch.setattr(parity, "_GATE_DEADLINE_S", 0.3)


def test_condition_met_runs_under_gate_conf_and_returns_checkpoint():
    spark = fake_spark()
    ckpt, q = run(
        spark, lambda: True,
        conf={"spark.sql.streaming.multipleWatermarkPolicy": "max"},
    )
    assert ckpt == "ckpt-dir"
    assert q.conf_at_start == {
        "spark.sql.shuffle.partitions": str(session.LOCAL_STREAM_WIDTH),
        "spark.sql.streaming.checkpointFileManagerClass": (
            parity.LOCAL_CHECKPOINT_MANAGER
        ),
        "spark.sql.streaming.checkpoint.fileChecksum.enabled": "true",
        "spark.sql.streaming.multipleWatermarkPolicy": "max",
    }


def test_condition_never_met_times_out_and_stops(short_deadline):
    spark = fake_spark()
    with pytest.raises(TimeoutError, match="gate"):
        run(spark, lambda: False)


def test_self_terminating_query_finishes():
    ckpt, q = run(fake_spark(), finishes=True)
    assert ckpt == "ckpt-dir" and q.waits == 1


def test_self_terminating_query_that_never_ends_times_out_and_stops():
    with pytest.raises(TimeoutError, match="gate"):
        run(fake_spark(), finishes=False)


@pytest.mark.parametrize("done", [None, lambda: False])
def test_stream_death_propagates_at_once(done):
    died = RuntimeError("stream died")
    spark = fake_spark()
    started = []

    def start(ckpt):
        started.append(FakeQuery(spark, error=died))
        return started[-1]

    with pytest.raises(RuntimeError) as exc:
        parity._run_gate(spark, "gate", start, done, ckpt="ckpt-dir")
    assert exc.value is died
    assert started[0].waits == 1 and started[0].stops == 1
    assert spark.conf.values == CALLER_CONF


def test_start_failure_restores_conf():
    spark = fake_spark()

    def start(ckpt):
        raise ValueError("bad plan")

    with pytest.raises(ValueError):
        parity._run_gate(spark, "gate", start, lambda: True, ckpt="ckpt")
    assert spark.conf.values == CALLER_CONF
