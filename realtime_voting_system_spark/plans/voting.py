"""The reference's dashboard + generator queries on the voting star schema
itself (candidate / voter / vote — schemas.py), as Spark DataFrame plans.

This is the literal product surface a user of the reference would run:
Q1-Q8 (reference/app.py:66-263,441-446) and G1
(reference/src/data_generator.py:204-215), composed from operators/shapes.py
where the shape fits and written verbatim where the reference is quirky.
Each query has a DuckDB oracle twin in ``VOTING_ORACLE_SQL`` (views:
candidate / voter / vote) exercised by tests/test_voting.py on generated
data (sources/generator.py) and on a hand-built edge-case star.

Driver note: the external driver's tables are the TPC-H-ish testdata, so
these registries are NOT exported via __spark_entry__; plans/parity.py maps
every shape there. This module is parity-on-the-actual-schema.

Plan rules. The reference re-runs these panels on a fixed cycle
(app.py:273), and on a dashboard-sized star a refresh costs Spark jobs, not
data, so every panel is written to fire as few jobs as it can:

1. No Spark job while a panel is built. A total the panel needs is part of
   the plan, never an eager ``count()`` frozen into it as a literal.
2. The fact is aggregated once per panel: one pass over ``vote`` feeds
   every figure the panel shows. Nothing is cached or memoised; every call
   recomputes from the frames it is given.
3. Once the rows are dimension-sized, the plan finishes on one partition.
   Dimension-sized means bounded by the dimensions alone: candidates ×
   hours or minutes, states × parties, age buckets, genders — never by
   voters or votes. ``coalesce(1)`` at that point yields
   ``SinglePartition``, which satisfies every later distribution, so the
   windows (LAG / RANK / ROW_NUMBER / whole-table SUM), the re-aggregates
   and the final ORDER BY after it add no exchange and no job.

Expressions are SQL text (``F.expr`` / ``selectExpr``), the plan's shape is
DataFrame calls: every Column-API call costs several py4j round trips, and
a panel is built on every refresh.

Determinism deviations from the reference (each mirrored in the oracle):
- Q2's ``vote_changes`` CTE picks ONE row by ``ORDER BY hour DESC LIMIT 1``
  with no tie-break (app.py:102-104) — Postgres picks an arbitrary candidate
  among ties. We add ``candidate_id`` as tie-break.
- Q4a's ``string_agg(DISTINCT …)`` has arbitrary order in Postgres
  (app.py:159); we sort (SURVEY §4 caveat a).

Percentages round half away from zero on the exact quotient, as the
reference's Postgres does on ``NUMERIC`` (40.495 → 40.50). Spark's
``round`` on the double quotient does this for vote totals below 10^11;
the oracles use exact integer arithmetic, ``((20000*c + t) // (2*t)) / 100.0``,
because DuckDB rounds the binary double (40.495 → 40.49).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import shapes
from ..sources.generator import PARTIES

Tables = dict[str, DataFrame]

VOTING_QUERIES: dict[str, Callable[[Tables], DataFrame]] = {}
VOTING_ORACLE_SQL: dict[str, str] = {}


def vquery(name: str, oracle: str):
    def deco(fn):
        VOTING_QUERIES[name] = fn
        VOTING_ORACLE_SQL[name] = oracle
        return fn

    return deco


def _pct(part: str, total: str) -> str:
    """SQL text of ``ROUND(part * 100 / total, 2)`` in doubles — the
    reference's percentage (functions/scalar.py ``pct_of``)."""
    return f"ROUND({part} * 100.0D / {total}, 2)"


def _joined(t: Tables, *, voter: bool = False, candidate: bool = False):
    """vote ⋈ [voter] ⋈ [candidate] — the J1/J2 star join. Dims broadcast
    (3 candidates / bounded voters-per-test; at scale voter is the big dim —
    AQE decides, the hint stays on candidate only)."""
    df = t["vote"]
    if voter:
        df = df.join(t["voter"], "voter_id")
    if candidate:
        df = df.join(F.broadcast(t["candidate"]), "candidate_id")
    return df


# -- Q1: latest-hour totals (app.py:67-81) ----------------------------------

_Q1 = """
SELECT COUNT(*) AS total_votes,
       MAX(voted_at) AS last_update,
       CAST(COUNT(*) - LAG(COUNT(*))
         OVER (ORDER BY DATE_TRUNC('hour', voted_at)) AS BIGINT) AS hourly_change
FROM vote
GROUP BY DATE_TRUNC('hour', voted_at)
ORDER BY DATE_TRUNC('hour', voted_at) DESC
LIMIT 1
"""


@vquery("vq1_total_votes", _Q1)
def q1_total_votes(t: Tables) -> DataFrame:
    """Per-hour count + MAX(voted_at) + LAG delta, newest hour only.
    The reference labels the latest HOUR's count 'total_votes' (quirk kept).

    Plan: one hash-agg shuffle on hour buckets, then one partition (rule 3)
    for the LAG window and the newest-hour pick.
    """
    hourly = (
        t["vote"]
        .groupBy(F.expr("date_trunc('hour', voted_at) AS hour"))
        .agg(F.expr("COUNT(*) AS total_votes"), F.expr("MAX(voted_at) AS last_update"))
        .coalesce(1)
    )
    return (
        hourly.selectExpr(
            "*",
            "CAST(total_votes - LAG(total_votes) OVER (ORDER BY hour) AS BIGINT)"
            " AS hourly_change",
        )
        .orderBy(F.desc("hour"))
        .limit(1)
        .select("total_votes", "last_update", "hourly_change")
    )


# -- Q2: votes by candidate, pct + rank + latest hourly change (app.py:83-124)

_Q2 = """
WITH hourly_votes AS (
  SELECT c.candidate_id, DATE_TRUNC('hour', v.voted_at) AS hour,
         COUNT(*) AS hourly_count
  FROM vote v JOIN candidate c ON v.candidate_id = c.candidate_id
  GROUP BY c.candidate_id, DATE_TRUNC('hour', v.voted_at)
), vote_changes AS (
  SELECT candidate_id,
         hourly_count - LAG(hourly_count)
           OVER (PARTITION BY candidate_id ORDER BY hour) AS hourly_change
  FROM hourly_votes ORDER BY hour DESC, candidate_id LIMIT 1
)
SELECT c.first_name, c.last_name, c.party,
       COUNT(*) AS vote_count,
       ((20000 * COUNT(*) + (SELECT COUNT(*) FROM vote))
         // (2 * (SELECT COUNT(*) FROM vote))) / 100.0 AS percentage,
       CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c.candidate_id) AS BIGINT)
         AS rank,
       COALESCE(vc.hourly_change, 0) AS hourly_change
FROM vote v
JOIN candidate c ON v.candidate_id = c.candidate_id
LEFT JOIN vote_changes vc ON vc.candidate_id = c.candidate_id
GROUP BY c.candidate_id, c.first_name, c.last_name, c.party, vc.hourly_change
ORDER BY vote_count DESC
"""


@vquery("vq2_votes_by_candidate", _Q2)
def q2_votes_by_candidate(t: Tables) -> DataFrame:
    """The flagship (csv-sample.csv schema: first_name,last_name,party,
    vote_count,percentage,rank,hourly_change). Tie-breaks added on
    candidate_id (module docstring).

    Plan: ONE (candidate_id, hour) aggregate of the unjoined fact, then one
    partition (rule 3). It feeds the unjoined total (a window sum — the
    reference's ``(SELECT COUNT(*) FROM vote)``), the per-candidate LAG and,
    after the candidate join, ``vote_count`` (a sum) and the change of the
    latest (hour DESC, candidate_id) row.
    """
    hourly = (
        t["vote"]
        .groupBy("candidate_id", F.expr("date_trunc('hour', voted_at) AS hour"))
        .agg(F.expr("COUNT(*) AS hourly_count"))
        .coalesce(1)
        .selectExpr(
            "*",
            "SUM(hourly_count) OVER () AS total",
            "hourly_count - LAG(hourly_count)"
            " OVER (PARTITION BY candidate_id ORDER BY hour) AS hourly_change",
        )
    )
    per_candidate = (
        hourly.join(F.broadcast(t["candidate"]), "candidate_id")
        .selectExpr(
            "*", "ROW_NUMBER() OVER (ORDER BY hour DESC, candidate_id) = 1 AS latest"
        )
        .groupBy("candidate_id", "first_name", "last_name", "party")
        .agg(
            F.expr("SUM(hourly_count) AS vote_count"),
            F.expr("MAX(total) AS total"),
            F.expr("MAX(CASE WHEN latest THEN hourly_change END) AS hourly_change"),
        )
    )
    return per_candidate.selectExpr(
        "first_name",
        "last_name",
        "party",
        "vote_count",
        f"{_pct('vote_count', 'total')} AS percentage",
        "CAST(ROW_NUMBER() OVER (ORDER BY vote_count DESC, candidate_id) AS BIGINT)"
        " AS rank",
        "COALESCE(hourly_change, 0) AS hourly_change",
    ).orderBy(F.desc("vote_count"))


# -- Q3: cumulative per-minute trend (app.py:126-151) -----------------------

_Q3 = """
WITH cumulative_votes AS (
  SELECT c.first_name || ' ' || c.last_name AS candidate_name, c.party,
         v.voted_at,
         COUNT(*) OVER (PARTITION BY c.candidate_id ORDER BY v.voted_at
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumulative_votes
  FROM vote v JOIN candidate c ON v.candidate_id = c.candidate_id
)
SELECT DATE_TRUNC('minute', voted_at) AS vote_time, candidate_name, party,
       MAX(cumulative_votes) AS total_votes
FROM cumulative_votes
GROUP BY DATE_TRUNC('minute', voted_at), candidate_name, party
ORDER BY vote_time
"""


@vquery("vq3_historical_trends", _Q3)
def q3_historical_trends(t: Tables) -> DataFrame:
    """Per-minute MAX of the running count per candidate_id ≡ running sum of
    that candidate's per-minute counts. Aggregate-first: the window input is
    (candidate, minute) rows, not votes, and runs on one partition (rule 3).
    The series are keyed by candidate_id, as in the reference (app.py:134-
    138); two candidates sharing a display name and party meet only in the
    final MAX per (minute, name, party), exactly as in the oracle.
    """
    per_minute = (
        t["vote"]
        .groupBy("candidate_id", F.expr("date_trunc('minute', voted_at) AS vote_time"))
        .agg(F.expr("COUNT(*) AS votes"))
        .coalesce(1)
        .selectExpr(
            "*",
            "SUM(votes) OVER (PARTITION BY candidate_id ORDER BY vote_time"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_votes",
        )
    )
    return (
        per_minute.join(F.broadcast(t["candidate"]), "candidate_id")
        .groupBy(
            "vote_time",
            F.expr("concat_ws(' ', first_name, last_name) AS candidate_name"),
            "party",
        )
        .agg(F.expr("MAX(total_votes) AS total_votes"))
        .orderBy("vote_time", "candidate_name", "party")
    )


# -- Q4a: votes + party list per state (app.py:154-164) ---------------------

_Q4A = """
SELECT v.address_state, COUNT(*) AS vote_count,
       string_agg(DISTINCT c.party, ', ' ORDER BY c.party) AS parties
FROM vote vt
JOIN voter v ON vt.voter_id = v.voter_id
JOIN candidate c ON vt.candidate_id = c.candidate_id
GROUP BY v.address_state
"""


@vquery("vq4a_votes_by_state", _Q4A)
def q4a_votes_by_state(t: Tables) -> DataFrame:
    """Per-state count + sorted distinct party list (A5, sorted for
    determinism)."""
    return shapes.sorted_distinct_concat(
        _joined(t, voter=True, candidate=True),
        group_cols=["address_state"],
        value_col="party",
        out_name="parties",
        count_name="vote_count",
    ).select("address_state", "vote_count", "parties")


# -- Q4b: leading party per state (app.py:166-184) --------------------------

_Q4B = """
WITH state_party_votes AS (
  SELECT v.address_state, c.party, COUNT(*) AS party_votes,
         RANK() OVER (PARTITION BY v.address_state ORDER BY COUNT(*) DESC)
           AS rank
  FROM vote vt
  JOIN voter v ON vt.voter_id = v.voter_id
  JOIN candidate c ON vt.candidate_id = c.candidate_id
  GROUP BY v.address_state, c.party
)
SELECT address_state, party, party_votes
FROM state_party_votes WHERE rank = 1
"""


@vquery("vq4b_leading_party", _Q4B)
def q4b_leading_party(t: Tables) -> DataFrame:
    """Top-1-per-state with RANK (ties kept, exactly as the reference): the
    (state, party) aggregate, then one partition (rule 3) for the RANK."""
    per_party = (
        _joined(t, voter=True, candidate=True)
        .groupBy("address_state", "party")
        .agg(F.expr("COUNT(*) AS party_votes"))
        .coalesce(1)
    )
    return (
        per_party.selectExpr(
            "*",
            "RANK() OVER (PARTITION BY address_state ORDER BY party_votes DESC)"
            " AS rank",
        )
        .where("rank = 1")
        .select("address_state", "party", "party_votes")
    )


# -- Q5a: gender split (app.py:189-198) -------------------------------------

_Q5A = """
SELECT v.gender, COUNT(*) AS vote_count,
       ((20000 * COUNT(*) + (SELECT COUNT(*) FROM vote))
         // (2 * (SELECT COUNT(*) FROM vote))) / 100.0 AS percentage
FROM vote vt JOIN voter v ON vt.voter_id = v.voter_id
GROUP BY v.gender
"""


@vquery("vq5a_gender_split", _Q5A)
def q5a_gender_split(t: Tables) -> DataFrame:
    """Percentage denominator is the UNJOINED vote count (scalar subquery,
    app.py:194), not the joined rows: the two differ if a vote's voter is
    missing (the FK guarantees it is not).

    Plan: vote LEFT JOIN voter keeps every vote, and a ``matched`` flag
    splits the one (matched, gender) aggregate into the shown groups and
    the rest; the whole-table window sum over both is the unjoined total.
    """
    voters = t["voter"].selectExpr("voter_id", "gender", "true AS matched")
    per_gender = (
        t["vote"]
        .join(voters, "voter_id", "left")
        .groupBy("matched", "gender")
        .agg(F.expr("COUNT(*) AS vote_count"))
        .coalesce(1)
        .selectExpr("*", "SUM(vote_count) OVER () AS total")
    )
    return per_gender.where("matched").selectExpr(
        "gender", "vote_count", f"{_pct('vote_count', 'total')} AS percentage"
    )


# -- Q5b: age buckets (app.py:200-220) --------------------------------------

_Q5B = """
SELECT CASE WHEN age < 30 THEN '18-29' WHEN age < 45 THEN '30-44'
            WHEN age < 60 THEN '45-59' ELSE '60+' END AS age_group,
       COUNT(*) AS count,
       ((20000 * COUNT(*) + SUM(COUNT(*)) OVER ())
         // (2 * SUM(COUNT(*)) OVER ())) / 100.0 AS percentage
FROM vote vt JOIN voter v ON vt.voter_id = v.voter_id
GROUP BY CASE WHEN age < 30 THEN '18-29' WHEN age < 45 THEN '30-44'
              WHEN age < 60 THEN '45-59' ELSE '60+' END
ORDER BY age_group
"""


@vquery("vq5b_age_buckets", _Q5B)
def q5b_age_buckets(t: Tables) -> DataFrame:
    """CASE-bucketed share-of-total (P5/A7/A8): the bucket aggregate, then
    one partition (rule 3) for the whole-table sum and the ORDER BY."""
    per_bucket = (
        _joined(t, voter=True)
        .groupBy(
            F.expr(
                "CASE WHEN age < 30 THEN '18-29' WHEN age < 45 THEN '30-44'"
                " WHEN age < 60 THEN '45-59' ELSE '60+' END AS age_group"
            )
        )
        .agg(F.expr("COUNT(*) AS count"))
        .coalesce(1)
    )
    return per_bucket.selectExpr(
        "age_group",
        "count",
        f"{_pct('count', 'SUM(count) OVER ()')} AS percentage",
    ).orderBy("age_group")


# -- Q6: candidate info (app.py:224-230) ------------------------------------

_Q6 = """
SELECT first_name, last_name, party, age, gender, biography, img_url
FROM candidate
"""


@vquery("vq6_candidate_info", _Q6)
def q6_candidate_info(t: Tables) -> DataFrame:
    return t["candidate"].select(
        "first_name", "last_name", "party", "age", "gender", "biography", "img_url"
    )


# -- Q7: state voting details, manual pivot + avg-of-averages (app.py:232-263)

_Q7 = f"""
WITH state_votes AS (
  SELECT v.address_state, c.party, COUNT(*) AS votes,
         ROUND(AVG(CAST(v.age AS DOUBLE)), 1) AS avg_age,
         ROUND(CAST(100.0 AS DOUBLE) * COUNT(CASE WHEN v.gender = 'male' THEN 1 END)
               / COUNT(*), 1) AS male_pct
  FROM vote vt
  JOIN voter v ON vt.voter_id = v.voter_id
  JOIN candidate c ON vt.candidate_id = c.candidate_id
  GROUP BY v.address_state, c.party
)
SELECT s.address_state AS state,
       COALESCE(sv1.votes, 0) AS management_party,
       COALESCE(sv2.votes, 0) AS liberation_party,
       COALESCE(sv3.votes, 0) AS united_republic_party,
       COALESCE(sv1.votes, 0) + COALESCE(sv2.votes, 0) + COALESCE(sv3.votes, 0)
         AS total_votes,
       ROUND((COALESCE(sv1.avg_age, 0) + COALESCE(sv2.avg_age, 0)
              + COALESCE(sv3.avg_age, 0)) / 3, 1) AS avg_age,
       ROUND((COALESCE(sv1.male_pct, 0) + COALESCE(sv2.male_pct, 0)
              + COALESCE(sv3.male_pct, 0)) / 3, 1) AS male_pct
FROM (SELECT DISTINCT address_state FROM voter) s
LEFT JOIN state_votes sv1
  ON s.address_state = sv1.address_state AND sv1.party = '{PARTIES[0]}'
LEFT JOIN state_votes sv2
  ON s.address_state = sv2.address_state AND sv2.party = '{PARTIES[1]}'
LEFT JOIN state_votes sv3
  ON s.address_state = sv3.address_state AND sv3.party = '{PARTIES[2]}'
ORDER BY s.address_state
"""


@vquery("vq7_state_details", _Q7)
def q7_state_details(t: Tables) -> DataFrame:
    """The reference's triple self-LEFT-JOIN manual pivot (app.py:255-257)
    over ``SELECT DISTINCT address_state FROM voter``, from ONE voter-side
    pass: voter LEFT JOIN vote LEFT JOIN candidate yields every state (rows
    of voters who did not vote carry a NULL party) and the per-(state,
    party) stats. After that aggregate the rows are states × parties, so
    the pivot is one partition (rule 3) of conditional aggregates.

    The 'Avg Age' / 'Male %' columns reproduce the reference's quirky
    avg-of-averages: mean of the three per-party per-state values with
    missing parties counted as 0, divided by a hard 3 (app.py:252-253) —
    non-standard but replicated bit-for-bit (SURVEY §4 caveat c). The
    reference's outer AVG() is over a single row per group, i.e. identity.
    The NULL state matches no ``state_votes`` row in the reference's join,
    so its row is all zeros.
    """
    # candidate also carries age/gender: project it to its key and party so
    # age/gender are the voter's (the reference's v.age / v.gender).
    rows = t["voter"].join(t["vote"], "voter_id", "left").join(
        F.broadcast(t["candidate"].select("candidate_id", "party")),
        "candidate_id",
        "left",
    )
    sv = (
        rows.groupBy("address_state", "party")
        .agg(
            F.expr("COUNT(*) AS votes"),
            F.expr("ROUND(AVG(CAST(age AS DOUBLE)), 1) AS avg_age"),
            F.expr(
                "ROUND(100.0D * COUNT(CASE WHEN gender = 'male' THEN 1 END)"
                " / COUNT(*), 1) AS male_pct"
            ),
        )
        .coalesce(1)
    )
    def of_party(col: str) -> list[str]:
        """Each party's ``col`` per state, 0 where the party has no row."""
        return [
            f"COALESCE(MAX(CASE WHEN party = '{p}' AND address_state IS NOT NULL"
            f" THEN {col} END), 0)"
            for p in PARTIES
        ]

    v, a, m = of_party("votes"), of_party("avg_age"), of_party("male_pct")
    return (
        sv.groupBy(F.expr("address_state AS state"))
        .agg(
            F.expr(f"{v[0]} AS management_party"),
            F.expr(f"{v[1]} AS liberation_party"),
            F.expr(f"{v[2]} AS united_republic_party"),
            F.expr(f"{' + '.join(v)} AS total_votes"),
            F.expr(f"ROUND(({' + '.join(a)}) / 3, 1) AS avg_age"),
            F.expr(f"ROUND(({' + '.join(m)}) / 3, 1) AS male_pct"),
        )
        .orderBy("state")
    )


# -- Q8: leader image lookup (app.py:441-446) -------------------------------

_Q8 = """
SELECT img_url FROM candidate
WHERE first_name = 'Cand1' AND last_name = 'Nguyen'
"""


@vquery("vq8_leader_image", _Q8)
def q8_leader_image(t: Tables, first: str = "Cand1", last: str = "Nguyen"):
    """Parametrized equality lookup (P2). The reference interpolates user
    input into SQL (injection hazard, app.py:444-445); here parameters are
    Column literals — never string-spliced."""
    return t["candidate"].filter(
        (F.col("first_name") == first) & (F.col("last_name") == last)
    ).select("img_url")


# -- G1: per-candidate share, zero-vote candidates kept (data_generator.py:204-215)

_G1 = """
SELECT c.first_name, c.last_name, c.party, COUNT(*) AS vote_count,
       ((20000 * COUNT(*) + SUM(COUNT(*)) OVER ())
         // NULLIF(2 * SUM(COUNT(*)) OVER (), 0)) / 100.0 AS percentage
FROM candidate c LEFT JOIN vote v ON c.candidate_id = v.candidate_id
GROUP BY c.candidate_id, c.first_name, c.last_name, c.party
ORDER BY vote_count DESC
"""


@vquery("vg1_current_stats", _G1)
def g1_current_stats(t: Tables) -> DataFrame:
    """LEFT JOIN + COUNT(*): a zero-vote candidate counts its own
    NULL-extended row, showing 1 — a reference quirk preserved exactly
    (COUNT(*) vs COUNT(v.vote_id), data_generator.py:209).

    Plan: the fact is counted per candidate_id first, then LEFT JOINed to
    the candidate PK; ``COALESCE(count, 1)`` is the NULL-extended row's
    COUNT(*), so results are unchanged. The counts are candidate-sized, so
    the join output is one partition (rule 3) for the total and the ORDER BY.
    """
    counts = (
        t["vote"]
        .groupBy("candidate_id")
        .agg(F.expr("COUNT(*) AS vote_count"))
        .coalesce(1)
    )
    total = "NULLIF(CAST(SUM(vote_count) OVER () AS DOUBLE), 0)"
    return (
        t["candidate"]
        .coalesce(1)
        .join(counts, "candidate_id", "left")
        .selectExpr(
            "first_name", "last_name", "party", "COALESCE(vote_count, 1) AS vote_count"
        )
        .selectExpr("*", f"{_pct('vote_count', total)} AS percentage")
        .orderBy(F.desc("vote_count"))
    )
