"""bench.py's name-filtered mode: per-query times on stdout, no ingest
samples, and the durable BENCH.json left as it was."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from .conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]


def test_filtered_bench_prints_query_times_and_skips_ingest():
    bench_json = REPO / "BENCH.json"
    before = bench_json.read_bytes()
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "q1_hourly_totals"],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [
        json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")
    ]
    per_query, compact = lines[-2], lines[-1]
    assert list(per_query) == ["queries"]
    assert list(per_query["queries"]) == ["q1_hourly_totals"]
    assert per_query["queries"]["q1_hourly_totals"] > 0
    assert compact["n_queries"] == 1
    for key in (
        "ingest_events_per_sec", "ingest_events_per_sec_median",
        "ingest_spread",
    ):
        assert compact[key] is None, key
    assert bench_json.read_bytes() == before
