"""``session.tune``: which conf refusals it skips and which it raises."""

from __future__ import annotations

import pytest
from pyspark.errors import IllegalArgumentException

from realtime_voting_system_spark import session


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
