"""Voting-schema parity: every reference query (Q1-Q8, G1) on generated
candidate/voter/vote data and on a hand-built edge-case star vs its DuckDB
oracle — the §5.1 differential corpus on the actual star schema, plus the
reference's own statistical oracle (§5: observed shares ≈ configured
weights), the plan rule that building a panel runs no Spark job, and that
a warm refresh reuses every class Spark generated for the first one."""

from __future__ import annotations

import time

import duckdb
import pytest
from pyspark.sql import functions as F

from realtime_voting_system_spark.catalog import verify_schema
from realtime_voting_system_spark.plans.voting import (
    VOTING_ORACLE_SQL,
    VOTING_QUERIES,
)
from realtime_voting_system_spark.schemas import VOTING_SCHEMAS
from realtime_voting_system_spark.sources import generator
from realtime_voting_system_spark.sources.generator import PARTIES

from .oracle import assert_frames_match

N_VOTERS = 4000


def _write_star(spark, base, tables, partitions: int = 4):
    """Write the star to parquet so Spark and DuckDB read the SAME bytes
    (not two in-memory copies)."""
    out = {}
    for name, df in tables.items():
        path = str(base / f"{name}.parquet")
        df.coalesce(partitions).write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path)
    return base, out


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    tables = generator.generate_star(spark, n_voters=N_VOTERS, seed=7)
    return _write_star(spark, tmp_path_factory.mktemp("voting"), tables)


def _duck(base, sql: str):
    con = duckdb.connect()
    for t in ("candidate", "voter", "vote"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet/*.parquet'"
        )
    return con.sql(sql).df()


# -- edge-case star ----------------------------------------------------------
#
# 20,000 votes, one per voter, plus one voter who did not vote:
# - cand-000 and cand-001 share the display name "Ann Lee" (different
#   parties); cand-003 gets no vote;
# - cand-000, the male voters and the 18-29 bucket each hold 8,099 of the
#   20,000 votes: 40.495 %, an exact half that rounds to 40.50;
# - 100 voters have a NULL gender, every 997th a NULL address_state;
# - in state "Tie" the two leading parties have one vote each; state
#   "Lonely" holds only the voter who did not vote;
# - votes fall in hours 0, 1 and 3, none in hour 2.
# The "no votes" variant keeps both dimensions and empties ``vote``.

N_EDGE = 20_000
N_HALF = 8_099


def _candidate_row(cid: str, first: str, last: str, party: str) -> tuple:
    return (
        cid, first, last, "1970-01-01", 50, "female", party, f"bio {cid}",
        f"https://img.example/{cid}.png",
    )


def _edge_tables(spark):
    candidate = spark.createDataFrame(
        [
            _candidate_row("cand-000", "Ann", "Lee", PARTIES[0]),
            _candidate_row("cand-001", "Ann", "Lee", PARTIES[1]),
            _candidate_row("cand-002", "Cand1", "Nguyen", PARTIES[2]),
            _candidate_row("cand-003", "Zed", "Zero", PARTIES[1]),
        ],
        VOTING_SCHEMAS["candidate"],
    )
    i = F.col("id")
    voter_cols = {
        "voter_id": F.format_string("voter-%05d", i),
        "age": F.when(i < N_HALF, 20 + i % 10).otherwise(30 + i % 40),
        "gender": F.when(i < N_HALF, "male")
        .when(i < N_HALF + 100, F.lit(None))
        .otherwise("female"),
        "address_state": F.when(i == N_EDGE, "Lonely")
        .when(i >= N_EDGE - 2, "Tie")
        .when(i % 997 == 5, F.lit(None))
        .otherwise(F.format_string("S%d", i % 7)),
    }
    hour = F.when(i % 3 == 2, 3).otherwise(i % 3)
    vote_cols = {
        "vote_id": F.format_string("vote-%05d", i),
        "voter_id": voter_cols["voter_id"],
        # i = N_EDGE - 2 (even) and N_EDGE - 1 (odd) are the "Tie" pair
        "candidate_id": F.when(i < N_HALF, "cand-000")
        .when(i % 2 == 0, "cand-001")
        .otherwise("cand-002"),
        "voted_at": F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-11-05 00:00:00"))
            + hour * 3600 + i % 60 * 60 + i % 50
        ),
        "vote": F.lit(1),
    }

    def build(df, table, cols):
        # the declared schema; a column no panel reads holds its own name
        return df.select(
            *[
                cols.get(f.name, F.lit(f.name)).cast(f.dataType).alias(f.name)
                for f in VOTING_SCHEMAS[table].fields
            ]
        )

    voter = build(spark.range(N_EDGE + 1), "voter", voter_cols)
    vote = build(spark.range(N_EDGE), "vote", vote_cols)
    return {"candidate": candidate, "voter": voter, "vote": vote}


_KEY_CHECKS = {
    "candidate PK": "SELECT COUNT(*) - COUNT(DISTINCT candidate_id) FROM candidate",
    "voter PK": "SELECT COUNT(*) - COUNT(DISTINCT voter_id) FROM voter",
    "vote PK": "SELECT COUNT(*) - COUNT(DISTINCT vote_id) FROM vote",
    "UNIQUE(vote.voter_id)": "SELECT COUNT(*) - COUNT(DISTINCT voter_id) FROM vote",
    "vote.voter_id FK": "SELECT COUNT(*) FROM vote WHERE voter_id NOT IN "
    "(SELECT voter_id FROM voter)",
    "vote.candidate_id FK": "SELECT COUNT(*) FROM vote WHERE candidate_id "
    "NOT IN (SELECT candidate_id FROM candidate)",
}


@pytest.fixture(scope="module")
def edge_stars(spark, tmp_path_factory):
    tables = _edge_tables(spark)
    empty = spark.createDataFrame([], VOTING_SCHEMAS["vote"])
    stars = {
        "edge": _write_star(spark, tmp_path_factory.mktemp("edge"), tables, 1),
        "no_votes": _write_star(
            spark, tmp_path_factory.mktemp("no_votes"), {**tables, "vote": empty}, 1
        ),
    }
    for base, _ in stars.values():
        for key, sql in _KEY_CHECKS.items():
            assert _duck(base, sql).iat[0, 0] == 0, f"{base}: {key} violated"
    half = _duck(
        stars["edge"][0],
        "SELECT COUNT(*) FILTER (WHERE candidate_id = 'cand-000'), COUNT(*) FROM vote",
    )
    assert tuple(half.iloc[0]) == (N_HALF, N_EDGE)
    return stars


@pytest.mark.parametrize("star_name", ["edge", "no_votes"])
@pytest.mark.parametrize("name", sorted(VOTING_QUERIES))
def test_edge_star_matches_oracle(edge_stars, star_name, name):
    base, t = edge_stars[star_name]
    actual = VOTING_QUERIES[name](t).toPandas()
    expected = _duck(base, VOTING_ORACLE_SQL[name])
    assert_frames_match(actual, expected, f"{star_name}/{name}")


@pytest.mark.parametrize("name", sorted(VOTING_QUERIES))
def test_building_a_panel_runs_no_job(spark, star, name):
    """Plan rule 1: a panel is only built here, never executed."""
    sc = spark.sparkContext
    st = sc.statusTracker()

    def in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    group = f"build-{name}"
    in_group(group, lambda: VOTING_QUERIES[name](star[1]))
    # The status store is fed asynchronously but in job order: once a later
    # fence job is visible, every job the build ran is visible too.
    fence = f"fence-{name}"
    in_group(fence, lambda: spark.range(1).collect())
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(fence):
        assert time.monotonic() < deadline, "fence job never became visible"
        time.sleep(0.01)
    assert list(st.getJobIdsForGroup(group)) == []


def test_warm_refresh_compiles_nothing(spark, star):
    """The dashboard re-runs the same panels every cycle; once one refresh
    has run, the next must find all of its generated classes in Spark's
    compiled-class cache (sized in ``session.get_spark``), not recompile
    them."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()  # one sample per class

    def refresh():
        for build in VOTING_QUERIES.values():
            build(star[1]).collect()

    refresh()
    before = compiles.getCount()
    refresh()
    assert compiles.getCount() - before == 0


def test_schemas_match_declaration(star):
    _, t = star
    for name, df in t.items():
        assert verify_schema(df, name) == []


@pytest.mark.parametrize("name", sorted(VOTING_QUERIES))
def test_voting_query_matches_oracle(star, name):
    base, t = star
    actual = VOTING_QUERIES[name](t).toPandas()
    expected = _duck(base, VOTING_ORACLE_SQL[name])
    assert_frames_match(actual, expected, name)


def test_weighted_shares_converge(star):
    """The reference's implicit statistical oracle (SURVEY §5): generated
    candidate shares match the 22/40/35 weights (+3pt last-candidate
    fallback, data_generator.py:180-181) within sampling noise."""
    _, t = star
    counts = {
        r["candidate_id"]: r["count"]
        for r in t["vote"].groupBy("candidate_id").count().collect()
    }
    total = sum(counts.values())
    expected = {"cand-000": 0.22, "cand-001": 0.40, "cand-002": 0.35 + 0.03}
    for cid, want in expected.items():
        got = counts.get(cid, 0) / total
        assert abs(got - want) < 0.03, f"{cid}: share {got:.3f} vs {want}"


def test_one_vote_per_voter(star):
    _, t = star
    votes = t["vote"]
    assert votes.count() == N_VOTERS
    assert votes.select("voter_id").distinct().count() == N_VOTERS
