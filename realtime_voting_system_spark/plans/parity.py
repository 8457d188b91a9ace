"""Driver-contract queries: each reference query shape (SURVEY.md §2)
instantiated on the driver testdata (FIXTURES.md §B mapping), with a DuckDB
oracle SQL twin for the t2 hash-match gate.

Conventions (driver compares row-count + schema + order-insensitive
value-hash, columns sorted by name):
- every computed column is aliased identically in Spark and SQL;
- integer-ish outputs are LONG both sides (Spark counts are long; DuckDB
  COUNT is BIGINT; ranks cast to long explicitly);
- doubles follow the determinism rules in functions/scalar.py (exact-decimal
  accumulation; single-division ratios; no round() on hashed doubles);
- DuckDB numeric literals are DECIMAL — oracle SQL casts to DOUBLE wherever
  Spark computes a double.

Writing a streaming gate (the ``st*`` entries): build the input with
``_gate_source`` (tune + pyds registration + readStream), add the Kafka
envelope round trip with ``_via_envelope`` if the gate parses, and run it
with ``_run_gate(spark, name, start, done)`` — it scopes the gate conf,
starts ``start(ckpt)``, drains until ``done()`` (or, without ``done``,
until an availableNow query ends), always stops the query and returns the
checkpoint, which a restart gate passes to its next phase. Gates carry
no retry of their own: the registry wraps each WHOLE gate function in
``_retry_stream_flake``, because a start-level retry on a fresh checkpoint
would replay epoch ids into the foreachBatch accumulators (st21/25/31/33/
34/35), whose epoch guards would then skip those epochs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..sources.io import scratch_dir as _scratch_dir
from ..operators import shapes
from ..session import LOCAL_CHECKPOINT_MANAGER, LOCAL_STREAM_WIDTH, tune
from ..streaming import jobs

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _retry_stream_flake(name: str, fn):
    """Registry wrapper: ONE retry when a streaming gate dies of the
    environment, not the code. The JVM's Python-worker accept timeout
    is hard-coded at 10 s (PythonWorkerFactory.PROCESS_WAIT_TIMEOUT_MS)
    and a python_streaming_source_runner pays multi-second pyspark
    imports before it can connect back — under host stalls (measured
    r12: two bench runs lost to "Timed out while waiting for the
    Python worker to connect back" on an idle box with kernel-logged
    9.7 ms hrtimer interrupts) the runner misses the window, the
    stream dies at startup, and the gate raises. Every gate is a
    deterministic pure function of its (fresh-tempdir) inputs, so a
    rerun computes the identical result; _run_gate fails FAST on
    stream death, so a flake costs seconds, not the gate deadline.
    Batch queries never raise these.
    The retry is logged to stderr so bench/verify logs show it."""
    import functools

    def is_flake(exc) -> bool:
        try:
            from pyspark.errors import StreamingQueryException
        except Exception:  # pragma: no cover
            return isinstance(exc, TimeoutError)
        return isinstance(exc, (TimeoutError, StreamingQueryException))

    @functools.wraps(fn)
    def run(spark, sf_dir):
        try:
            return fn(spark, sf_dir)
        except Exception as exc:
            if not is_flake(exc):
                raise
            import sys as _sys

            print(
                f"[parity] {name}: streaming gate flaked "
                f"({type(exc).__name__}: {exc}); retrying once",
                file=_sys.stderr,
            )
            return fn(spark, sf_dir)

    return run


def query(name: str, oracle: str | None = None):
    def deco(fn):
        # a duplicate name would SILENTLY shadow the earlier query in the
        # driver registry (and its oracle) — fail loudly at import instead
        if name in QUERIES:
            raise ValueError(f"duplicate registered query name {name!r}")
        QUERIES[name] = _retry_stream_flake(name, fn)
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Q2 — ranked counts + pct-of-total + latest-hour change (app.py:83-124)
# Testdata instantiation: orders ⋈ customer per mktsegment (FIXTURES §B).
# This is the flagship (SURVEY §7.1 minimum slice).
# ---------------------------------------------------------------------------

_Q2_SQL = """
WITH fact AS (
  SELECT o.o_orderdate, c.c_mktsegment
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), base AS (
  SELECT c_mktsegment,
         COUNT(*) AS order_count,
         COUNT(*)::DOUBLE * 100.0 / SUM(COUNT(*)) OVER () AS percentage,
         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c_mktsegment) AS BIGINT)
           AS "rank"
  FROM fact GROUP BY c_mktsegment
), hourly AS (
  SELECT c_mktsegment, date_trunc('hour', o_orderdate) AS bucket,
         COUNT(*) AS hourly_count
  FROM fact GROUP BY 1
  , 2
), changes AS (
  SELECT c_mktsegment, bucket,
         hourly_count - LAG(hourly_count)
           OVER (PARTITION BY c_mktsegment ORDER BY bucket) AS hourly_change
  FROM hourly
), latest AS (
  SELECT c_mktsegment, hourly_change FROM changes
  WHERE bucket = (SELECT MAX(bucket) FROM hourly)
)
SELECT b.c_mktsegment, b.order_count, b.percentage, b."rank",
       COALESCE(l.hourly_change, 0) AS hourly_change
FROM base b LEFT JOIN latest l USING (c_mktsegment)
"""


@query("q2_ranked_share", _Q2_SQL)
def q2_ranked_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Votes-by-candidate replica (app.py:83-124): broadcast inner join →
    grouped count → pct via whole-table window (W5) → row_number rank (W2)
    → LAG hourly change at the latest bucket (W1/O1) → COALESCE 0 (F4).

    Plan at scale: orders⋈customer shuffles on custkey (both sides big —
    sort-merge under AQE); everything downstream operates on segment-level
    aggregates (5 rows). The two aggregations (total + hourly) share the
    joined fact; Catalyst reuses the exchange where possible.
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    fact = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select("o_orderdate", "c_mktsegment")

    base = shapes.ranked_share(
        fact, ["c_mktsegment"], count_name="order_count",
        pct_name="percentage", rank_name="rank",
    )
    hourly = shapes.time_bucketed_counts(
        fact, "o_orderdate", "hour", ["c_mktsegment"], "bucket", "hourly_count"
    )
    changes = shapes.with_lag_delta(
        hourly, "bucket", "hourly_count", ["c_mktsegment"], "hourly_change"
    )
    max_bucket = hourly.groupBy().agg(F.max("bucket").alias("bucket"))
    latest = changes.join(F.broadcast(max_bucket), "bucket").select(
        "c_mktsegment", "hourly_change"
    )
    # latest has at most #segments rows — broadcast explicitly rather than
    # relying on AQE's runtime SMJ→BHJ conversion (timing-dependent).
    return base.join(F.broadcast(latest), "c_mktsegment", "left").select(
        "c_mktsegment",
        "order_count",
        "percentage",
        "rank",
        F.coalesce("hourly_change", F.lit(0)).cast("long").alias("hourly_change"),
    )


# ---------------------------------------------------------------------------
# Q1 — time-bucketed totals + LAG delta (app.py:67-81; A12/W1)
# Testdata: events per hour (FIXTURES §B).
# ---------------------------------------------------------------------------

_Q1_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1
)
SELECT bucket, cnt,
       cnt - LAG(cnt) OVER (ORDER BY bucket) AS delta
FROM hourly
"""


@query("q1_hourly_totals", _Q1_SQL)
def q1_hourly_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts with previous-hour delta; leading NULL kept as in
    the reference (LAG over first hour, app.py:72).

    Plan at scale: one partial/final hash aggregate (shuffle volume =
    #distinct hours/task); the lag window runs over the bounded aggregate.
    """
    events = _t(spark, sf_dir, "events")
    hourly = shapes.time_bucketed_counts(events, "ts", "hour", (), "bucket", "cnt")
    return shapes.with_lag_delta(hourly, "bucket", "cnt", (), "delta")


# ---------------------------------------------------------------------------
# Q3 — cumulative trend per entity, minute-bucketed (app.py:126-151; W4)
# ---------------------------------------------------------------------------

_Q3_SQL = """
WITH per_bucket AS (
  SELECT event_type, date_trunc('minute', ts) AS bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket,
       CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT)
         AS cumulative
FROM per_bucket
"""


@query("q3_cumulative_trend", _Q3_SQL)
def q3_cumulative_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running vote-count trend (W4) in its scalable aggregate-first form:
    groupBy(minute) THEN running sum over buckets — window state is #buckets,
    not #events (shapes.cumulative_bucketed docstring)."""
    events = _t(spark, sf_dir, "events")
    return shapes.cumulative_bucketed(
        events, "event_type", "ts", "minute", "bucket", "cumulative"
    )


# ---------------------------------------------------------------------------
# Q4a — sorted-distinct string agg per group (app.py:155-164; A5/J2)
# ---------------------------------------------------------------------------

_Q4A_SQL = """
SELECT l.l_returnflag,
       array_to_string(list_sort(list(DISTINCT p.p_brand)), ', ') AS brands,
       COUNT(*) AS cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY l.l_returnflag
"""


@query("q4a_brands_by_flag", _Q4A_SQL)
def q4a_brands_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string_agg(DISTINCT …) made deterministic by sorting (SURVEY §4
    caveat a). part is broadcast (small dim — the candidate-table analog)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    fact = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_returnflag", "p_brand"
    )
    return shapes.sorted_distinct_concat(
        fact, ["l_returnflag"], "p_brand", "brands", ", ", "cnt"
    )


# ---------------------------------------------------------------------------
# Q4b — top-1 per group via RANK, ties kept (app.py:166-184; W3+P3, 3-way J2)
# ---------------------------------------------------------------------------

_Q4B_SQL = """
WITH agg AS (
  SELECT n.n_name, p.p_brand, COUNT(*) AS cnt
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
), ranked AS (
  SELECT n_name, p_brand, cnt,
         CAST(RANK() OVER (PARTITION BY n_name ORDER BY cnt DESC) AS BIGINT)
           AS "rank"
  FROM agg
)
SELECT * FROM ranked WHERE "rank" = 1
"""


@query("q4b_top_brand_per_nation", _Q4B_SQL)
def q4b_top_brand_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leader-per-state replica: RANK (not row_number) so ties all surface,
    exactly as the reference's state-leader query (app.py:172,183).

    Plan at scale: fact⋈3 broadcast dims (no fact shuffle for the joins),
    one aggregate shuffle on (nation, brand), window over the aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    fact = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("n_name", "p_brand")
    )
    return shapes.top1_per_group(
        fact, ["n_name"], ["p_brand"], None, "cnt", "rank"
    ).select("n_name", "p_brand", "cnt", "rank")


# ---------------------------------------------------------------------------
# Q5a — pct by category, scalar-subquery shape (app.py:190-198; A9/J7)
# ---------------------------------------------------------------------------

_Q5A_SQL = """
SELECT c_mktsegment, COUNT(*) AS cnt,
       COUNT(*)::DOUBLE * 100.0 / SUM(COUNT(*)) OVER () AS percentage
FROM customer
GROUP BY c_mktsegment
"""


@query("q5a_segment_pct", _Q5A_SQL)
def q5a_segment_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gender-distribution replica (app.py:190-198) on c_mktsegment."""
    return shapes.pct_by_category(
        _t(spark, sf_dir, "customer"), ["c_mktsegment"], "cnt", "percentage"
    )


# ---------------------------------------------------------------------------
# Q5b — CASE bucketing + window-total pct (app.py:200-220; P5/A7/A8/F6)
# ---------------------------------------------------------------------------

_Q5B_SQL = """
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 1000 THEN 'low'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'high' END AS balance_bucket,
       COUNT(*) AS cnt,
       COUNT(*)::DOUBLE * 100.0 / SUM(COUNT(*)) OVER () AS percentage
FROM customer
GROUP BY 1
"""


@query("q5b_balance_buckets", _Q5B_SQL)
def q5b_balance_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Age-group distribution replica (app.py:200-220): GROUP BY CASE
    expression with percentage via whole-table window."""
    from ..functions.scalar import bucket

    cust = _t(spark, sf_dir, "customer")
    expr = bucket("c_acctbal", [0, 1000, 5000], ["negative", "low", "mid", "high"])
    return shapes.bucketed_pct(cust, expr, "balance_bucket", "cnt", "percentage")


# ---------------------------------------------------------------------------
# Q6 — column projection (app.py:224-230; P1) and
# Q8 — conjunctive equality filter (app.py:441-446; P2, parameterized — the
#      reference string-interpolates, an injection hazard we do not copy)
# ---------------------------------------------------------------------------

_A6_SQL = "SELECT DISTINCT c_mktsegment FROM customer"


@query("a6_distinct_segments", _A6_SQL)
def a6_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (Q7's `SELECT DISTINCT address_state` subquery,
    app.py:254). Plans as partial+final hash aggregate — shuffle volume is
    #distinct values per task, not the table."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


_Q6_SQL = "SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer"


@query("q6_projection", _Q6_SQL)
def q6_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-info replica: pure projection; ReadSchema in the parquet
    scan must show only these 4 columns (pruning — checked in tests)."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


_Q8_SQL = """
SELECT p_partkey, p_name, p_brand, p_type, p_size
FROM part WHERE p_brand = 'Brand#7' AND p_type = 'PROMO'
"""


@query("q8_filtered_lookup", _Q8_SQL)
def q8_filtered_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leader-image lookup replica: conjunctive equality predicate, pushed
    to the scan (PushedFilters — checked in tests)."""
    part = _t(spark, sf_dir, "part")
    return part.filter(
        (F.col("p_brand") == "Brand#7") & (F.col("p_type") == "PROMO")
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


# ---------------------------------------------------------------------------
# Q7 — pivot + per-group stats (app.py:232-263; J5-as-pivot, A3/A4, F4)
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_Q7_SQL = """
SELECT n.n_name,
       COUNT(*) AS total_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*)
         AS avg_price,
       COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END)::DOUBLE * 100.0
         / COUNT(*) AS pct_finished,
       COUNT(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 END) AS prio_urgent,
       COUNT(CASE WHEN o.o_orderpriority = '2-HIGH' THEN 1 END) AS prio_high,
       COUNT(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN 1 END) AS prio_medium,
       COUNT(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED' THEN 1 END)
         AS prio_notspec,
       COUNT(CASE WHEN o.o_orderpriority = '5-LOW' THEN 1 END) AS prio_low
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@query("q7_nation_order_stats", _Q7_SQL)
def q7_nation_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-details replica (app.py:232-263): per-nation avg price (A3,
    exact-decimal accumulation), conditional-count ratio (A4), and per-
    priority counts — the reference's triple self-LEFT-JOIN manual pivot
    (app.py:255-257) expressed as conditional aggregation.

    Done as ONE grouped aggregate (not groupBy().pivot()) so the whole thing
    is a single shuffle with map-side partials — the idiomatic high-scale
    pivot when the value list is known."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    from ..functions.scalar import exact_avg, pct_of

    fact = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_totalprice", "o_orderstatus", "o_orderpriority")
    )
    prio_alias = {
        "1-URGENT": "prio_urgent",
        "2-HIGH": "prio_high",
        "3-MEDIUM": "prio_medium",
        "4-NOT SPECIFIED": "prio_notspec",
        "5-LOW": "prio_low",
    }
    aggs = [
        F.count("*").alias("total_orders"),
        exact_avg("o_totalprice").alias("avg_price"),
        pct_of(
            F.count(F.when(F.col("o_orderstatus") == "F", 1)), F.count("*")
        ).alias("pct_finished"),
    ] + [
        F.count(F.when(F.col("o_orderpriority") == p, 1)).alias(a)
        for p, a in prio_alias.items()
    ]
    return fact.groupBy("n_name").agg(*aggs)


# ---------------------------------------------------------------------------
# G1 — LEFT JOIN keeping empty groups + NULLIF share
#      (data_generator.py:204-215; J4/A8/F5)
# ---------------------------------------------------------------------------

_G1_SQL = """
WITH counts AS (
  SELECT c.c_custkey, c.c_name,
         CAST(COALESCE(cnt, 0) AS BIGINT) AS order_count
  FROM customer c
  LEFT JOIN (
    SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
  ) o ON c.c_custkey = o.o_custkey
)
SELECT c_custkey, c_name, order_count,
       order_count::DOUBLE * 100.0
         / NULLIF(CAST(SUM(order_count) OVER () AS BIGINT), 0) AS percentage
FROM counts
"""


@query("g1_customer_order_share", _G1_SQL)
def g1_customer_order_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator-stats replica: zero-order customers kept (LEFT JOIN), share
    guarded by NULLIF(total, 0). High-cardinality key → shuffle join under
    AQE rather than forced broadcast (shapes docstring)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return shapes.left_count_with_share(
        cust, orders.withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey", ["c_name"], "order_count", "percentage",
        broadcast_counts=False,
    )


# ---------------------------------------------------------------------------
# Events JSON envelope extraction (F9 analog on events.props)
# ---------------------------------------------------------------------------

_EJ_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)::DOUBLE
         / COUNT(json_extract_string(props, '$.k')) AS avg_k
FROM events
GROUP BY event_type
"""


@query("events_json_extract", _EJ_SQL)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction over the event envelope (the reference's Kafka
    values are JSON dicts — data_generator.py:154,249); integer accumulation
    is exact so avg is the deterministic single-division form."""
    from ..functions.scalar import json_get

    events = _t(spark, sf_dir, "events")
    k = json_get("props", "k").cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
    )


_VARIANT_SQL = """
WITH e AS (
  SELECT event_type, CAST(props::JSON->>'k' AS BIGINT) AS k FROM events
)
SELECT event_type, k // 10 AS k_decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM e GROUP BY 1, 2
"""


@query("events_variant_extract", _VARIANT_SQL)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type: the
    JSON envelope is parsed ONCE into the binary variant encoding
    (parse_json) and fields come out as typed variant_get paths — the
    parse-once / extract-many layout that replaces per-path
    get_json_object string re-parsing at scale (events_json_extract is
    the classic form; at 100 TB with many extracted paths the variant
    column is the one that amortizes). DuckDB's JSON type plays the
    oracle twin (props::JSON ->> path). Integer-exact aggregates per
    (event_type, k-decile)."""
    events = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    e = events.select(
        "event_type",
        F.variant_get(v, "$.k", "long").alias("k"),
    )
    return e.groupBy(
        "event_type",
        F.floor(F.col("k") / F.lit(10)).cast("long").alias("k_decile"),
    ).agg(
        F.count("*").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
    )


# ---------------------------------------------------------------------------
# W6 (beyond-reference) — ordered event funnel over the events table:
# view → click → purchase conversion, min-ts semantics per stage.
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ("view", "click", "purchase")

_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e
  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e
  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'view' AS stage, 1::BIGINT AS stage_idx, COUNT(*) AS users FROM s1
UNION ALL
SELECT 'click', 2::BIGINT, COUNT(*) FROM s2
UNION ALL
SELECT 'purchase', 3::BIGINT, COUNT(*) FROM s3
"""


@query("events_funnel", _FUNNEL_SQL)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (shapes.funnel_counts): stage k counts users whose
    first stage-k event follows their stage-(k−1) time — keyed joins on
    user_id + min aggregates, no window over raw events."""
    return shapes.funnel_counts(
        _t(spark, sf_dir, "events"), _FUNNEL_STAGES
    )


# ---------------------------------------------------------------------------
# A13 (beyond-reference) — weekly cohort retention over events: users
# grouped by first-seen week, counted per week they were active.
# ---------------------------------------------------------------------------

_COHORT_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT f.cohort_week, a.active_week, COUNT(*) AS users
FROM first f JOIN act a ON f.user_id = a.user_id
GROUP BY f.cohort_week, a.active_week
"""


@query("events_cohort_retention", _COHORT_SQL)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × active-week user counts. Scale: first-seen is one min-agg
    on user_id; activity is a distinct on (user, week) — both shuffles
    keyed on user_id so the join co-locates; the output is
    #cohorts × #weeks rows (bounded by the calendar, not the data)."""
    events = _t(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        first.join(act, "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.count("*").alias("users"))
    )


# Register the large-scale pipeline operators (dedup/similarity/text/
# multimodal) into the same driver-facing registry.
from . import pipeline_ops  # noqa: E402,F401  (import populates QUERIES)
from . import extended_ops  # noqa: E402,F401  (import populates QUERIES)
from . import scale_ops  # noqa: E402,F401  (import populates QUERIES)
from . import relational_ops  # noqa: E402,F401  (import populates QUERIES)
from . import quality_ops  # noqa: E402,F401  (import populates QUERIES)
from . import graph_ops  # noqa: E402,F401  (import populates QUERIES)


# ---------------------------------------------------------------------------
# Pricing summary — TPC-H-Q1-shaped heavy aggregate over lineitem. Not a
# reference query; it is the bench workhorse exercising full-scan + wide
# multi-aggregate with exact-decimal accumulation (functions/scalar.py).
# ---------------------------------------------------------------------------

_PS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("pricing_summary", _PS_SQL)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan grouped multi-aggregate (the canonical OLAP kernel).

    Plan at scale: predicate pushed to parquet (min/max row-group skip on
    l_shipdate), 4-column ReadSchema, partial aggregation map-side → 6-group
    shuffle of partial sums. Decimal accumulation keeps the result
    order-independent (bit-stable vs the oracle) — see functions/scalar.py.
    """
    from ..functions.scalar import exact_avg, exact_sum

    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp")
    )
    d = lambda c: F.col(c).cast("decimal(18,2)")
    disc_price = d("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast(
        "decimal(18,2)"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity", 2, 18).alias("sum_qty"),
        exact_sum("l_extendedprice", 2, 18).alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        exact_avg("l_quantity", 2, 18).alias("avg_qty"),
        exact_avg("l_extendedprice", 2, 18).alias("avg_price"),
        exact_avg("l_discount", 2, 18).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Constraint operators as queries (SURVEY §1.4 / §2.3 semi-anti extras) —
# operators/integrity.py instantiated on testdata: events vs the customer
# dimension restricted to one segment, so both outputs are non-trivial.
# ---------------------------------------------------------------------------

_ANTI_SQL = """
SELECT e.event_id, e.user_id, e.event_type
FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING'
)
"""


@query("fk_orphans_anti", _ANTI_SQL)
def fk_orphans_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — the FK-violation audit (integrity.fk_violations).
    Dimension side broadcast; fact side never shuffles."""
    from ..operators.integrity import fk_violations

    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return fk_violations(events, dim, "user_id", "c_custkey")


_SEMI_SQL = """
SELECT e.event_id, e.user_id, e.event_type
FROM events e
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING'
)
"""


@query("fk_enforce_semi", _SEMI_SQL)
def fk_enforce_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — post-hoc FK enforcement (integrity.enforce_fk)."""
    from ..operators.integrity import enforce_fk

    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return enforce_fk(events, dim, "user_id", "c_custkey")


# ---------------------------------------------------------------------------
# J8 (beyond-reference; TPC-H Q4 shape) — FACT ⋈ FACT semi-join with a
# correlated non-equi condition: the one join class the voting queries
# never exercise (all their joins have a dimension side). orders and
# lineitem are the two big tables, so this is the query whose plan MUST
# shuffle both sides on the join key — the 100 TB shape broadcast can't
# save — and where the semi-join's early-out beats join+distinct.
# ---------------------------------------------------------------------------

_J8_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
"""


@query("j8_fact_semi", _J8_SQL)
def j8_fact_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with ≥1 lineitem shipped after the order date, counted per
    priority. Plan at scale: both facts shuffle once on orderkey (no
    broadcast side exists); LEFT SEMI stops probing a key at its first
    match and emits no duplicates, so no post-join distinct is needed;
    the priority aggregate is 5 groups with map-side partials. Only
    l_orderkey + l_shipdate are read from lineitem (column pruning)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    kept = orders.join(
        lineitem,
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return kept.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


# ---------------------------------------------------------------------------
# A10 — re-aggregation of an aggregate (app.py:485 party totals) on
# testdata: per-nation customer counts rolled up to region.
# ---------------------------------------------------------------------------

_A10_SQL = """
WITH per_nation AS (
  SELECT n.n_name, n.n_regionkey, COUNT(*) AS customer_count
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, n.n_regionkey
)
SELECT r.r_name, CAST(SUM(customer_count) AS BIGINT) AS customer_count
FROM per_nation p JOIN region r ON p.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@query("a10_region_totals", _A10_SQL)
def a10_region_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-of-aggregate: the dashboard regroups Q2's result by party
    client-side (app.py:485); engine-side it is a second tiny groupBy over
    the 25-row nation aggregate — no extra scan of the fact."""
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    per_nation = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "n_regionkey")
        .agg(F.count("*").alias("customer_count"))
    )
    return (
        per_nation.join(region, per_nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.sum("customer_count").alias("customer_count"))
    )


# ---------------------------------------------------------------------------
# P4 — case-insensitive substring search (state search box, app.py:682)
# ---------------------------------------------------------------------------

_P4_SQL = """
SELECT n.n_name, COUNT(*) AS order_count
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE contains(lower(n.n_name), '_1')
GROUP BY n.n_name
"""


@query("p4_substring_search", _P4_SQL)
def p4_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard's `.str.contains(case=False)` filter (app.py:682) as a
    pushed predicate on the broadcast dimension — the filter prunes nations
    BEFORE the join, not the joined result."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # '_1' matches NATION_1, NATION_10..19 on the synthetic dim (the
    # original 'an' matched nothing — a 0-row demo); semantics unchanged
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").filter(
            F.lower(F.col("n_name")).contains("_1")
        )
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# J6/S6 — geo choropleth join (app.py:563,567-572): static states dimension
# LEFT JOIN per-state counts, zero-filled — every state row survives.
# Testdata mapping: events land in a state by user_id mod 50 (deterministic).
# ---------------------------------------------------------------------------


def _build_j6_sql() -> str:
    from ..sources.geo import _STATES

    values = ", ".join(
        f"({i}, '{n}', '{a}', '{r}')" for i, (n, a, r) in enumerate(_STATES)
    )
    return f"""
WITH states(sidx, state_name, state_abbr, census_region) AS (VALUES {values}),
counts AS (
  SELECT user_id % 50 AS sidx, COUNT(*) AS vote_count
  FROM events GROUP BY 1
)
SELECT state_name, state_abbr, census_region,
       CAST(COALESCE(vote_count, 0) AS BIGINT) AS vote_count
FROM states LEFT JOIN counts USING (sidx)
"""


@query("j6_geo_choropleth", _build_j6_sql())
def j6_geo_choropleth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choropleth feed: the dashboard's geo merge (J6) — 50-row broadcast
    dimension, left join keeps un-voted states as zeros. The aggregate runs
    BEFORE the join (50 rows join 50 rows), never fact × dimension."""
    from ..sources.geo import us_states_indexed

    events = _t(spark, sf_dir, "events")
    counts = (
        events.groupBy(F.pmod(F.col("user_id"), F.lit(50)).alias("sidx"))
        .agg(F.count("*").alias("vote_count"))
    )
    states = us_states_indexed(spark)
    return (
        states.join(F.broadcast(counts), "sidx", "left")
        .select(
            "state_name",
            "state_abbr",
            "census_region",
            F.coalesce("vote_count", F.lit(0)).cast("long").alias("vote_count"),
        )
    )


# ---------------------------------------------------------------------------
# O1/O5 — deterministic ORDER BY ... LIMIT 1 (latest row pick)
# ---------------------------------------------------------------------------

_O1_SQL = """
SELECT event_id, ts, event_type
FROM events
ORDER BY ts DESC, event_id DESC
LIMIT 1
"""


@query("o1_latest_event", _O1_SQL)
def o1_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 by time (Q1's ORDER BY DESC LIMIT 1 / the client's iloc[0]
    leader pick, app.py:435) — tie-broken on event_id for determinism.
    Spark executes as TakeOrderedAndProject: per-partition top-1 then a
    1-row driver merge, never a full sort."""
    return (
        _t(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# ST4/ST9 — the streaming window operators (report §3.3 "sliding and
# tumbling intervals"; SURVEY §2.9), batch-checkable: Spark eliminates the
# watermark on batch plans (EliminateEventTimeWatermark), so these run the
# SAME operator code as streaming/jobs.py under the DuckDB oracle gate.
# ---------------------------------------------------------------------------

_ST4_TUMBLE_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2, 3
"""


@query("st4_tumbling_window", _ST4_TUMBLE_SQL)
def st4_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window counts (ST4) via the streaming
    operator run in batch. One aggregate shuffle keyed on (window, type);
    state in streaming mode is O(open windows × types), never O(events)."""
    events = _t(spark, sf_dir, "events")
    return jobs.windowed_votes(
        events, size="1 hour", ts_col="ts", group_cols=("event_type",)
    ).withColumnRenamed("vote_count", "n_events")


# Sliding 1h/15m: each event lands in exactly size/slide = 4 windows whose
# starts are the event's 15-minute bucket shifted back 0..3 slides — the
# oracle materializes that fan-out explicitly.
_ST4_SLIDE_SQL = """
WITH shifted AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts)
           - k * INTERVAL '15 minutes' AS window_start,
         event_type
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) offsets
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM shifted GROUP BY 1, 2, 3
"""


@query("st4_sliding_window", _ST4_SLIDE_SQL)
def st4_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/15-minute windows (ST4). Spark expands each row into
    size/slide window copies BEFORE the aggregate (Expand node) — the 4×
    fan-out happens map-side and combines partially, so the shuffle carries
    aggregated (window, type) rows only."""
    events = _t(spark, sf_dir, "events")
    return jobs.windowed_votes(
        events,
        size="1 hour",
        slide="15 minutes",
        ts_col="ts",
        group_cols=("event_type",),
    ).withColumnRenamed("vote_count", "n_events")


# Session windows = gaps-and-islands: a new session starts where the gap
# from the previous event (per user, tie-broken on event_id) reaches the
# 1-hour gap; session end extends 1 gap past the last event — exactly
# Spark's merge-overlapping-intervals semantics for point events.
_ST9_SESSION_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL '1 hour'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '1 hour' AS session_end,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, sid
"""


@query("st9_session_window", _ST9_SESSION_SQL)
def st9_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity sessions with a 1-hour inactivity gap (ST9) via
    native session_window run in batch. Shuffles once on user_id, then
    merges intervals within each partition; streaming state is O(users ×
    open sessions), GC'd by the watermark."""
    events = _t(spark, sf_dir, "events")
    return jobs.session_votes(
        events, gap="1 hour", ts_col="ts", group_cols=("user_id",)
    ).withColumnRenamed("vote_count", "n_events")


# ---------------------------------------------------------------------------
# ST1/X97 — the Python-DataSource vote transport executed END-TO-END under
# the oracle gate (VERDICT r3 #6): a REAL streaming query (micro-batches,
# checkpoint, complete-mode state) drives source → Kafka-style envelope
# serialize/parse → watermarked windowed aggregate, and the final state is
# value-hash-compared against DuckDB recomputing the deterministic event
# function (sources/pyds.vote_event: md5-derived candidate pick, 1 s
# timestamp stride) in SQL. The reference's Kafka consumer→agg loop
# (data_generator.py:246-252 → app.py) runs this exact shape; the broker
# is the only piece the sandbox can't supply (tests/test_streaming.py
# keeps the live-Kafka twin skip-gated).
# ---------------------------------------------------------------------------

_ST1_PYDS_N = 120  # 3 micro-batches of 40 — exercises multi-batch state

# the deterministic event function (sources/pyds.vote_event) in SQL —
# shared head of every pyds-stream oracle
_PYDS_EV_SQL = f"""
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST1_PYDS_N})) AS i)
"""

_PYDS_CAND_SQL = """CASE WHEN h % 100 < 45 THEN 'c1'
            WHEN h % 100 < 80 THEN 'c2'
            ELSE 'c3' END"""

_PYDS_STATE_SQL = """CASE (h // 100) % 5
            WHEN 0 THEN 'CA' WHEN 1 THEN 'TX' WHEN 2 THEN 'NY'
            WHEN 3 THEN 'FL' ELSE 'WA' END"""

# the tiny candidate dimension the ST2 twin enriches with (stream-static
# broadcast join) — VALUES here, an inline createDataFrame Spark-side
_PYDS_DIM = [
    ("c1", "Candidate One", "Management Party"),
    ("c2", "Candidate Two", "Liberation Party"),
    ("c3", "Candidate Three", "United Republic Party"),
]

_PYDS_DIM_SQL = ", ".join(f"('{c}', '{n}', '{p}')" for c, n, p in _PYDS_DIM)


from contextlib import contextmanager


_GATE_DEADLINE_S = 120.0  # wall-clock budget of one gate run


def _local_df(spark: SparkSession, rows, schema=None) -> DataFrame:
    """createDataFrame WITHOUT the defaultParallelism Python fan-out: a
    host-list createDataFrame parallelizes into one slice per core, so
    every materialization of the frame pays 32 Python-worker tasks for
    a handful of rows at local[32] — and gate frames are re-executed
    per micro-batch (stream-static joins) or per epoch (absorb chains).
    One slice = one task (guide §4, the Python boundary); same rows,
    same schema. Fixed-literal dims should prefer a pure-JVM VALUES
    LocalRelation (zero tasks) — this helper is for host-collected
    rows whose values are data-dependent."""
    rdd = spark.sparkContext.parallelize(rows, 1)
    if schema is None:
        return spark.createDataFrame(rdd)
    return spark.createDataFrame(rdd, schema)


# conf scoped around every gate's streaming run, on top of the width.
# Gate checkpoints are local scratch dirs, so gates commit them through
# the FileSystem manager that session.get_spark sets on its builder
# (driver-owned sessions get it only for the gate's run): without
# libhadoop the default FileContext manager forks a `readlink` per
# rename, on top of RawLocalFileSystem's `chmod` per create, and the
# checkpoint file closes of gate task threads waited on those forks.
# Checkpoint checksums stay on: with this manager, turning them off
# changed the 30 gates' summed time by -1.9 % (median of 7 interleaved
# pairs at sf0.1, 4 cores), inside the checksum-on runs' quartile spread.
_STREAM_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass": LOCAL_CHECKPOINT_MANAGER,
}


def _drain_until(q, check, what: str) -> None:
    """Wait for a streaming gate's completion condition, re-evaluating it
    only when a NEW micro-batch has committed. The condition is a real
    Spark job (memory-sink count/aggregate, manifest re-read), and it can
    only change when a batch lands — the old fixed 0.1 s cadence burned
    dozens of tiny driver jobs per gate that contended with the stream's
    own stages for scheduler slots (guide §1.2: fix the fixed costs
    first). ``lastProgress`` is a driver-side py4j read, no job; no-data
    batches (watermark flushes) also bump batchId, so append-mode gates
    whose final rows emit on an empty batch are still seen promptly.
    ``awaitTermination(0.05)`` keeps the fail-fast property — a stream
    that DIED raises its StreamingQueryException immediately — at half
    the old reaction latency. A condition that is never reached times
    out exactly as before."""
    import time as _time

    deadline = _time.time() + _GATE_DEADLINE_S
    last = None
    while _time.time() < deadline:
        p = q.lastProgress
        bid = p["batchId"] if p else None
        if bid != last:
            last = bid
            if check():
                return
        q.awaitTermination(0.05)
    raise TimeoutError(what)


@contextmanager
def _stream_shuffle_conf(spark: SparkSession, conf: dict | None = None):
    """Scope shuffle partitions to LOCAL_STREAM_WIDTH (plus _STREAM_CONF
    and the gate's own ``conf``) around a streaming run and RESTORE the
    caller's values after: state-store instances = shuffle partitions,
    so every stateful operator commits that many store files per
    micro-batch — pure checkpoint overhead at gate-sized event volumes
    (≤200 events, ≤5 distinct keys). Production sizes this knob to key
    cardinality and throughput; the gate pins it small for the same
    reason its sources cap at max_rows. The width is baked into the
    checkpoint at first start, so every (re)start against one
    checkpoint must run inside such a scope; the caller's batch-query
    conf is none of our business.

    Measured widths (interleaved A/B): against the old defaultParallelism
    width of 32 (3 trials, medians) st2 13.7→5.2 s, st31 20.2→12.7 s,
    st30 26→13 s, st7 18→8 s. Against width 4 (the 27 streaming gates
    summed, ``python bench.py <gate names>`` at sf0.1, 4 cores, 5 pairs)
    the median went 145.4 → 138.3 s, inside width 4's own quartile
    spread (129.6-150.9 s), so the gates share the local sessions' one
    width rather than keep a second."""
    confs = {
        "spark.sql.shuffle.partitions": str(LOCAL_STREAM_WIDTH),
        **_STREAM_CONF,
        **(conf or {}),
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:  # the caller never set it
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# micro-batch as fast as the gate's capped source delivers
_NOW = {"processingTime": "0 seconds"}


def _gate_source(spark: SparkSession, fmt: str = "vote_stream", **options):
    """The readStream of a pyds transport (``vote_stream``: the Simple
    driver-side reader; ``vote_stream_dist``: the partitioned one) with
    ``options`` as reader options. Runs tune() first: batch entries
    inherit it from _t's parquet load, and a stream source has none."""
    from ..sources import pyds

    tune(spark)
    (pyds.register if fmt == "vote_stream" else pyds.register_dist)(spark)
    return spark.readStream.format(fmt).options(**options).load()


def _via_envelope(stream: DataFrame) -> DataFrame:
    """The Kafka-style round trip every parsed gate runs: to_envelope
    (the producer's serialize) → parse_envelope (the consumer's)."""
    from ..streaming import envelope

    return envelope.parse_envelope(
        envelope.to_envelope(stream, "vote_id"), stream.schema
    )


def _run_gate(
    spark: SparkSession, name: str, start, done=None,
    ckpt: str | None = None, conf: dict | None = None,
) -> str:
    """Run one streaming gate phase: ``start(ckpt)`` inside the gate
    conf scope (_stream_shuffle_conf with ``conf``), then wait — for
    ``done()`` via _drain_until, or, with no condition, for the
    self-terminating (availableNow) query to finish — and ALWAYS stop
    the query. Either wait raises TimeoutError after _GATE_DEADLINE_S;
    a stream that dies raises its StreamingQueryException at once.
    Creates a fresh checkpoint unless ``ckpt`` is given (restart gates
    pass the first phase's), and returns it."""
    if ckpt is None:
        ckpt = _scratch_dir(prefix=f"rtvs_{name}_")
    what = f"{name}: not finished within {_GATE_DEADLINE_S:.0f} s"
    with _stream_shuffle_conf(spark, conf):
        q = start(ckpt)
        try:
            if done is not None:
                _drain_until(q, done, what)
            elif not q.awaitTermination(_GATE_DEADLINE_S):
                raise TimeoutError(what)
        finally:
            q.stop()
    return ckpt


def _verdict_counts(spark: SparkSession, results: dict) -> DataFrame:
    """Per-vote delivery verdicts of the index-dedup gates (st31/33/35):
    ``results`` maps epoch id → that epoch's probe rows."""
    flat = [
        (r["doc_id"], r["status"]) for rows in results.values() for r in rows
    ]
    verdicts = _local_df(spark, flat, "vote_id string, status string")
    status = F.col("status")
    return verdicts.groupBy("vote_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_deliveries"),
        F.sum((status == "kept").cast("long")).alias("n_kept"),
        F.sum((status == "dup_in_index").cast("long")).alias(
            "n_dup_in_index"
        ),
    )


_ST1_PYDS_SQL = f"""
WITH ev AS ({_PYDS_EV_SQL})
SELECT date_trunc('minute', ts) AS window_start,
       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
       {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM ev GROUP BY 1, 2, 3
"""


@query("st1_pyds_ingest", _ST1_PYDS_SQL)
def st1_pyds_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 end-to-end over the X97 transport: readStream("vote_stream")
    (3 micro-batches of 40 deterministic events) → to_envelope (the S2
    producer serialize) → parse_envelope (the S4 consumer parse) →
    windowed_votes 1-minute tumbling (ST4) → complete-mode memory sink,
    run by _run_gate until the sink has counted every event.

    ``sf_dir`` is unused — the transport IS the source (these pyds
    entries are the registered queries whose input is a stream, not the
    parquet corpus)."""
    name = "st1_pyds_parity"
    parsed = _via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST1_PYDS_N)
    )
    agg = jobs.windowed_votes(
        parsed, size="1 minute", ts_col="voted_at",
        group_cols=("candidate_id",),
    )
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "complete", _NOW),
        lambda: spark.table(name).agg(F.sum("vote_count")).first()[0]
        == _ST1_PYDS_N,
    )
    return spark.table(name)


@query("st5_pyds_checkpoint_recovery", _ST1_PYDS_SQL)
def st5_pyds_checkpoint_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST5 (checkpoint/recovery) under the oracle gate: the st1 pipeline
    is started with the source CAPPED at half the events, run to
    exhaustion (deterministic — no racy mid-stream kill), stopped, then
    restarted from the same checkpoint with the cap lifted to the full
    event count. The restart must resume from the WAL'd offset
    (SimpleDataSourceStreamReader.readBetweenOffsets replays any
    committed range bit-identically), restore the phase-1 aggregate
    state from the checkpointed state store, fold in the second half,
    and produce a FINAL state indistinguishable from an uninterrupted
    run: the hash gate compares it against the same oracle as st1.
    The capped first phase makes the stop point deterministic (the old
    kill-on-first-progress design could race: if every micro-batch
    committed before stop(), the restart had no new data and the
    complete-mode memory sink stayed empty) while still guaranteeing
    the restart has uncommitted work — exactly-once recovery with
    guaranteed forward progress. (The reference offers no recovery
    story at all; a crashed consumer re-reads from its consumer-group
    offset with at-least-once semantics.)"""
    name = "st5_pyds_parity"

    def start(max_rows: int):
        parsed = _via_envelope(
            _gate_source(spark, rows_per_batch=30, max_rows=max_rows)
        )
        agg = jobs.windowed_votes(
            parsed, size="1 minute", ts_col="voted_at",
            group_cols=("candidate_id",),
        )
        return lambda ck: jobs.start_to_memory(
            agg, name, ck, "complete", _NOW
        )

    def reached(n: int):
        return (
            lambda: spark.table(name).agg(F.sum("vote_count")).first()[0]
            == n
        )

    # phase 1: source capped at half the events — runs to exhaustion
    # (sink sum == half, deterministic), then a clean stop
    half = _ST1_PYDS_N // 2
    ckpt = _run_gate(spark, name, start(half), reached(half))
    # phase 2: restart from the SAME checkpoint with the cap lifted;
    # the source has guaranteed new rows past the committed offset,
    # so the restarted query always runs batches and must converge
    # to the uninterrupted result
    _run_gate(spark, name, start(_ST1_PYDS_N), reached(_ST1_PYDS_N), ckpt)
    return spark.table(name)


_ST2_PYDS_SQL = f"""
WITH ev AS ({_PYDS_EV_SQL}),
c AS (SELECT {_PYDS_CAND_SQL} AS candidate_id FROM ev),
d (candidate_id, candidate_name, party) AS (VALUES {_PYDS_DIM_SQL})
SELECT c.candidate_id, d.candidate_name, d.party,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM c JOIN d USING (candidate_id)
GROUP BY 1, 2, 3
"""


@query("st2_pyds_votes_per_candidate", _ST2_PYDS_SQL)
def st2_pyds_votes_per_candidate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST2 (aggregated_votes_per_candidate — the reference's first
    output topic, README.md:116, fed by the producer loop
    data_generator.py:246-252) executed as a REAL streaming job under
    the hash gate — and
    the full production pipeline, not just the aggregate: envelope parse
    → ST7 one-vote-per-voter dedup (dropDuplicatesWithinWatermark; all
    voters are unique so the count is unchanged, but the state-store
    path executes) → stream-static broadcast enrichment with the
    candidate dimension (the normalized layout the reference sidesteps
    by denormalizing) → running count per (candidate, name, party)."""
    # JVM LocalRelation (VALUES), not createDataFrame: the static side of
    # a stream-static join re-executes EVERY micro-batch, and a
    # Python-parallelized 3-row frame costs defaultParallelism Python
    # tasks per batch (~6 s of executor time per batch measured at
    # local[32]); a LocalTableScan broadcast-collects on the driver with
    # ZERO tasks. Same rows, same schema (guide §4 — Python boundary).
    dim = spark.sql(
        f"SELECT * FROM (VALUES {_PYDS_DIM_SQL}) AS "
        "t(candidate_id, candidate_name, party)"
    )
    name = "st2_pyds_parity"
    parsed = _via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST1_PYDS_N)
    )
    enriched = jobs.enrich_with_dim(
        jobs.dedup_votes(parsed), dim, "candidate_id",
        ("candidate_name", "party"),
    )
    agg = jobs.votes_per_candidate(enriched)
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "complete", _NOW),
        lambda: spark.table(name).agg(F.sum("vote_count")).first()[0]
        == _ST1_PYDS_N,
    )
    return spark.table(name)


_ST3_PYDS_SQL = f"""
WITH ev AS ({_PYDS_EV_SQL})
SELECT {_PYDS_STATE_SQL} AS address_state,
       CAST(COUNT(*) AS BIGINT) AS turnout
FROM ev GROUP BY 1
"""


@query("st3_pyds_turnout_by_location", _ST3_PYDS_SQL)
def st3_pyds_turnout_by_location(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST3 (aggregated_turnout_by_location — the reference's second
    output topic, README.md:118) as a real streaming job under the hash
    gate: envelope parse →
    running turnout per state. 5 state keys → bounded complete-mode
    state; the oracle recomputes pyds.vote_event's state pick
    (h//100 % 5) in SQL."""
    name = "st3_pyds_parity"
    agg = jobs.turnout_by_location(_via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST1_PYDS_N)
    ))
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "complete", _NOW),
        lambda: spark.table(name).agg(F.sum("turnout")).first()[0]
        == _ST1_PYDS_N,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST6 — late data / watermark semantics UNDER THE ORACLE GATE: a pyds
# stream with planted late arrivals, append-mode windowed aggregation,
# final sink hash-gated against a DuckDB twin that recomputes the
# documented lateness contract batch by batch.
# ---------------------------------------------------------------------------

# 5 micro-batches of 40; watermark allowance 2 minutes. Planted pattern
# (sources/pyds.late_shift): every 40th event arrives 90 s late (inside
# the allowance at its batch's watermark → KEPT), every 80th arrives
# 600 s late (window already below the watermark → DROPPED). Shifts are
# chosen so no window end ever EQUALS a watermark (watermarks land at
# :x9 seconds, window ends at :00) — the gate never depends on Spark's
# <= vs < boundary choice.
_ST6 = {"n": 200, "rpb": 40, "delay_s": 120,
        "late_every": 40, "late_by": 90,
        "very_late_every": 80, "very_late_by": 600}

_ST6_SQL = f"""
WITH raw AS (
  SELECT i,
         ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         CAST(i AS BIGINT) // {_ST6["rpb"]} AS b,
         TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND
           - CASE WHEN i > 0 AND i % {_ST6["very_late_every"]} = 0
                    THEN {_ST6["very_late_by"]}
                  WHEN i > 0 AND i % {_ST6["late_every"]} = 0
                    THEN {_ST6["late_by"]}
                  ELSE 0 END * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST6["n"]})) AS i)
), wm AS (
  -- watermark in force DURING batch b = max event time over batches
  -- < b minus the allowance (NULL for batch 0: no watermark yet)
  SELECT b,
         max(mx) OVER (ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - INTERVAL {_ST6["delay_s"]} SECOND AS wm_ts
  FROM (SELECT b, max(ts) AS mx FROM raw GROUP BY b)
), kept AS (
  -- late-row drop rule: a row is dropped iff its window end is at or
  -- below the watermark in force for its batch
  SELECT r.* FROM raw r JOIN wm USING (b)
  WHERE wm.wm_ts IS NULL
     OR date_trunc('minute', r.ts) + INTERVAL 1 MINUTE > wm.wm_ts
), fin AS (
  SELECT max(ts) - INTERVAL {_ST6["delay_s"]} SECOND AS final_wm FROM raw
)
SELECT date_trunc('minute', ts) AS window_start,
       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
       {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM kept, fin
WHERE date_trunc('minute', ts) + INTERVAL 1 MINUTE <= fin.final_wm
GROUP BY 1, 2, 3
"""


def _st6_expected_rows() -> int:
    """Driver-side simulation of the lateness contract — ONLY the poll
    stop condition for the append-mode sink (the oracle SQL is the
    actual gate; if the engine disagrees with this simulation the poll
    times out and the entry fails loudly)."""
    from ..sources.pyds import late_shift, vote_event

    cfg = _ST6
    evs = []
    for i in range(cfg["n"]):
        sh = late_shift(
            i, cfg["late_every"], cfg["late_by"],
            cfg["very_late_every"], cfg["very_late_by"],
        )
        evs.append((i // cfg["rpb"], i - sh, vote_event(i, sh)[2]))
    bmax: dict[int, int] = {}
    for b, t, _ in evs:
        bmax[b] = max(bmax.get(b, -(10 ** 9)), t)
    run, wm_at = None, {}
    for b in sorted(bmax):
        wm_at[b] = None if run is None else run - cfg["delay_s"]
        run = bmax[b] if run is None else max(run, bmax[b])
    final_wm = max(t for _, t, _ in evs) - cfg["delay_s"]
    groups = set()
    for b, t, cand in evs:
        win = (t // 60) * 60
        if wm_at[b] is not None and win + 60 <= wm_at[b]:
            continue  # dropped late row
        if win + 60 <= final_wm:
            groups.add((win, cand))  # window emitted by final watermark
    return len(groups)


@query("st6_pyds_late_data", _ST6_SQL)
def st6_pyds_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 (late data / watermark) under the value-hash gate — the last
    streaming contract that was pytest-only (streaming/jobs.py:162,40):
    a REAL append-mode streaming query over the pyds transport with
    planted late arrivals. Slightly-late events (90 s, inside the 2 min
    allowance) must be folded into their event-time window; very-late
    events (600 s, window already below the watermark in force) must be
    DROPPED; and only windows the final watermark has passed may appear
    in the append sink. The DuckDB twin recomputes exactly that —
    per-batch watermark progression, the drop rule, and the final
    emission frontier — from the same deterministic event function, so
    the entire lateness contract is hash-verified, not just asserted.

    ``sf_dir`` is unused — the transport IS the source."""
    cfg = _ST6
    name = "st6_pyds_parity"
    parsed = _via_envelope(_gate_source(
        spark, rows_per_batch=cfg["rpb"], max_rows=cfg["n"],
        late_every=cfg["late_every"], late_by=cfg["late_by"],
        very_late_every=cfg["very_late_every"],
        very_late_by=cfg["very_late_by"],
    ))
    agg = jobs.windowed_votes(
        parsed, size="1 minute", watermark=f"{cfg['delay_s']} seconds",
        ts_col="voted_at", group_cols=("candidate_id",),
    )
    expected = _st6_expected_rows()
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "append", _NOW),
        lambda: spark.table(name).count() == expected,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST7 — one-vote-per-voter streaming dedup UNDER THE GATE: the stream
# carries planted exact replays (same vote_id/voter/event time, the
# duplicate delivery the reference's DB UNIQUE(voter_id) rejected,
# setup_database.py:105); dropDuplicatesWithinWatermark must drop them
# and the final per-candidate counts are hash-gated.
# ---------------------------------------------------------------------------

_ST7 = {"n": 200, "rpb": 40, "replay_every": 10, "replay_offset": 5}

# kept events = stream positions that are NOT replays; a replay at
# position i re-delivers event i-5, whose voter was already admitted
_ST7_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {_ST7["n"]})) AS i)
  WHERE NOT (i > 0 AND i % {_ST7["replay_every"]} = 0
             AND i >= {_ST7["replay_offset"]})
)
SELECT {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM ev GROUP BY 1
"""


@query("st7_pyds_one_vote_per_voter", _ST7_SQL)
def st7_pyds_one_vote_per_voter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST7 (one-vote-per-voter dedup) under the value-hash gate: every
    10th stream position re-delivers the event from 5 positions earlier
    (same voter, same vote_id, same event time — an exact transport
    replay). The pipeline is parse → dropDuplicatesWithinWatermark on
    voter_id (streaming/jobs.dedup_votes — the state-store twin of the
    reference's UNIQUE(voter_id) insert rejection) → running count per
    candidate. 19 of 200 deliveries are replays; the gate verifies the
    final counts equal the unique-event aggregate, i.e. every replay was
    dropped whether it landed in the same micro-batch as its original
    (i−5 in the same 40-row batch) or a later one (cross-batch, via
    state). ``sf_dir`` unused — the transport IS the source."""
    cfg = _ST7
    name = "st7_pyds_parity"
    parsed = _via_envelope(_gate_source(
        spark, rows_per_batch=cfg["rpb"], max_rows=cfg["n"],
        replay_every=cfg["replay_every"],
        replay_offset=cfg["replay_offset"],
    ))
    agg = (
        jobs.dedup_votes(parsed)
        .groupBy("candidate_id")
        .agg(F.count("*").alias("vote_count"))
    )
    n_unique = sum(
        1
        for i in range(cfg["n"])
        if not (
            i > 0
            and i % cfg["replay_every"] == 0
            and i >= cfg["replay_offset"]
        )
    )
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "complete", _NOW),
        lambda: spark.table(name).agg(F.sum("vote_count")).first()[0]
        == n_unique,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST15 — stream-stream event-time-bounded join UNDER THE GATE: the same
# 120 deterministic events arrive on two independently-batched streams
# (60-row vs 44-row micro-batches); the inner join on vote_id with a
# two-sided event-time bound must pair every event exactly once.
# ---------------------------------------------------------------------------

_ST15_N = 120

# the joined columns every stream-stream join gate (st15/18/26/27) hashes
_JOIN_COLS = (
    "vote_id", "candidate_id", "voted_at", "r_candidate_id", "r_voted_at"
)

_ST15_SQL = f"""
WITH ev AS (
  SELECT 'vote-' || lpad(CAST(i AS VARCHAR), 8, '0') AS vote_id,
         ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST15_N})) AS i)
)
SELECT vote_id, {_PYDS_CAND_SQL} AS candidate_id, ts AS voted_at,
       {_PYDS_CAND_SQL} AS r_candidate_id, ts AS r_voted_at
FROM ev
"""


@query("st15_pyds_stream_join", _ST15_SQL)
def st15_pyds_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner equi-join with event-time bounds (the shape
    the reference cannot express at all — no two-stream correlation) as
    a REAL two-query-stage streaming job under the hash gate: the same
    deterministic event sequence read through TWO independent source
    instances with different micro-batch sizes (60 vs 44 rows — batch
    boundaries never align except at the end), joined on vote_id with a
    two-sided time bound (streaming/jobs.stream_stream_join: both sides
    watermarked, r_ts ∈ [l_ts − 1 h, l_ts] — the pair of constraints
    that lets Spark GC buffered rows, state O(watermark window), never
    the whole streams). Inner matches emit eagerly per micro-batch;
    misaligned batching means most pairs straddle micro-batches and are
    matched through buffered state, which is exactly the contract being
    verified: every event pairs exactly once, whatever the arrival
    interleaving. ``sf_dir`` unused — the transport IS the source."""
    name = "st15_pyds_parity"

    def src(rpb: int) -> DataFrame:
        return _via_envelope(
            _gate_source(spark, rows_per_batch=rpb, max_rows=_ST15_N)
        )

    joined = jobs.stream_stream_join(
        src(60), src(44), key="vote_id",
        left_ts="voted_at", right_ts="voted_at",
        within="1 hour", watermark="10 minutes",
    ).select(*_JOIN_COLS)
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(joined, name, ck, "append", _NOW),
        lambda: spark.table(name).count() == _ST15_N,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST16 — custom Python DataSource STREAMING SINK under the gate: events
# flow source → envelope → parse → vote_sink (two-phase staged-file +
# commit-manifest publish); the gate aggregates ONLY manifest-committed
# rows and must reproduce the full event set exactly once.
# ---------------------------------------------------------------------------

_ST16_N = 120

_ST16_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST16_N})) AS i)
)
SELECT {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count,
       MIN(ts) AS first_vote, MAX(ts) AS last_vote
FROM ev GROUP BY 1
"""


@query("st16_pyds_custom_sink", _ST16_SQL)
def st16_pyds_custom_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of the X97 custom connector (the reference's
    producer publishes to Kafka topics, README.md:116-118; this is that
    contract through Spark 4's Python DataSource writer API): the
    parsed event stream is written with
    ``writeStream.format("vote_sink")`` — every task stages a uniquely
    named json-lines file, the driver's per-batch ``commit`` publishes
    an atomic manifest, ``abort`` unstages. The gate then aggregates
    ONLY manifest-committed rows (sources/pyds.read_committed — the
    consumer contract: staged-but-uncommitted files are as invisible as
    unacked Kafka messages) and must reproduce all {_ST16_N} events
    exactly once, timestamps round-tripped through the json encoding.
    ``sf_dir`` unused — the transport IS the source."""
    from ..sources import pyds

    parsed = _via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST16_N)
    )
    pyds.register_sink(spark)
    out_dir = _scratch_dir(prefix="rtvs_st16_sink_")
    read_schema = (
        "vote_id string, voter_id string, candidate_id string, "
        "address_state string, voted_at string"
    )
    _run_gate(
        spark, "st16_pyds_parity",
        lambda ck: parsed.writeStream.format("vote_sink")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(**_NOW)
        .start(),
        lambda: pyds.read_committed(spark, out_dir, read_schema).count()
        == _ST16_N,
    )
    committed = pyds.read_committed(spark, out_dir, read_schema)
    ts = F.to_timestamp("voted_at", "yyyy-MM-dd HH:mm:ss")
    return committed.groupBy("candidate_id").agg(
        F.count("*").alias("vote_count"),
        F.min(ts).alias("first_vote"),
        F.max(ts).alias("last_vote"),
    )


# ---------------------------------------------------------------------------
# ST18 — stream-stream LEFT OUTER join under the gate: unmatched left
# rows must null-pad exactly when the watermark passes them, and only
# rows the final watermark reached may appear.
# ---------------------------------------------------------------------------

_ST18 = {"n_left": 120, "n_right": 60, "delay": "500 milliseconds"}

# final watermark = (max event ts = +119 s) − 0.5 s = +118.5 s: matched
# rows (id < 60) emit eagerly; unmatched left rows emit null-padded once
# the watermark passes their event time — ids 60..118; id 119 is never
# passed. The 0.5 s delay keeps every comparison strict (integer event
# times never EQUAL the watermark).
_ST18_SQL = f"""
WITH ev AS (
  SELECT i,
         'vote-' || lpad(CAST(i AS VARCHAR), 8, '0') AS vote_id,
         ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST18["n_left"]})) AS i)
)
SELECT vote_id, {_PYDS_CAND_SQL} AS candidate_id, ts AS voted_at,
       CASE WHEN i < {_ST18["n_right"]} THEN {_PYDS_CAND_SQL} END
         AS r_candidate_id,
       CASE WHEN i < {_ST18["n_right"]} THEN ts END AS r_voted_at
FROM ev WHERE i < {_ST18["n_left"]} - 1
"""


@query("st18_pyds_stream_join_outer", _ST18_SQL)
def st18_pyds_stream_join_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join under the value-hash gate — the
    contract the inner form (st15) cannot show: the right stream caps
    at 60 of the left's 120 events, so ids ≥ 60 have no match and must
    be emitted NULL-padded — but only once the watermark proves no
    match can still arrive (Spark holds unmatched left rows in state
    until the watermark passes their event time). With a 500 ms
    allowance the final watermark lands at +118.5 s: the gate therefore
    expects ids < 60 matched (emitted eagerly), ids 60..118 null-padded
    (watermark passed them), and id 119 ABSENT (never passed) — the
    outer-join trailing edge the docstring of
    streaming/jobs.stream_stream_join documents, now hash-verified.
    ``sf_dir`` unused — the transport IS the source."""
    cfg = _ST18
    name = "st18_pyds_parity"

    def src(rpb: int, max_rows: int) -> DataFrame:
        return _via_envelope(
            _gate_source(spark, rows_per_batch=rpb, max_rows=max_rows)
        )

    joined = jobs.stream_stream_join(
        src(60, cfg["n_left"]), src(44, cfg["n_right"]), key="vote_id",
        left_ts="voted_at", right_ts="voted_at",
        within="1 hour", watermark=cfg["delay"], how="leftOuter",
    ).select(*_JOIN_COLS)
    expected = cfg["n_left"] - 1
    # multipleWatermarkPolicy=max, scoped to this query: the right
    # stream EXHAUSTS at +59 s, so under the default min policy its
    # stalled watermark would pin the global one forever and no
    # unmatched left row could ever null-pad — exactly the
    # finished-upstream scenario the max policy exists for. (Production
    # default stays min: with live sources, min is the only policy that
    # never evicts rows a lagging stream could still match.)
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(joined, name, ck, "append", _NOW),
        lambda: spark.table(name).count() == expected,
        conf={"spark.sql.streaming.multipleWatermarkPolicy": "max"},
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST26 — stream-stream FULL OUTER join under the gate (completes the
# join-type matrix: inner st15, leftOuter st18)
# ---------------------------------------------------------------------------

# BOTH feeds carry ids [0, 120) in event-time LOCKSTEP (same rpb, same
# ts envelope — a feed whose event time trails the other gets its late
# batches DROPPED at the input filter once the max-policy watermark
# passes them, measured here with a +60 s-offset right feed). Right-only
# keys come from a KEY REMAP instead: right rows with id ≥ 90 join on
# 'rhs-'-prefixed keys, so 0..89 match (co-arriving in the same
# micro-batch), left 90..119 are left-only, and the remapped right
# 90..119 are right-only. within=10 s makes the ASYMMETRIC eviction
# observable: final watermark = 119 − 0.5 = +118.5 s ⇒ left-only ids
# 90..118 null-pad (l_ts < wm; 119 held forever), right-only ids 90..108
# null-pad (r_ts + 10 s < wm; 109.. held — a left row as late as
# r_ts+within could still match). Expected = 90 + 29 + 19 = 138 rows; no
# boundary ever EQUALS the watermark (integer event seconds, x.5
# frontiers).
_ST26 = {"n": 120, "remap_from": 90, "delay": "500 milliseconds",
         "within": "10 seconds"}


def _remapped_feeds(spark: SparkSession, cfg: dict):
    """The lockstep feeds of the full-outer join gates (st26/st27):
    the same ``cfg["n"]`` events on two partitioned sources, the right
    one re-keying ids ≥ ``cfg["remap_from"]`` to 'rhs-' keys — the
    right-only population."""

    def src() -> DataFrame:
        return _via_envelope(_gate_source(
            spark, "vote_stream_dist", rows_per_batch=40,
            max_rows=cfg["n"], num_partitions=2,
        ))

    right = src().withColumn(
        "vote_id",
        F.when(
            F.substring("vote_id", 6, 8).cast("int") >= cfg["remap_from"],
            F.concat(F.lit("rhs-"), F.col("vote_id")),
        ).otherwise(F.col("vote_id")),
    )
    return src(), right

_ST26_SQL = f"""
WITH ev AS (
  SELECT i,
         'vote-' || lpad(CAST(i AS VARCHAR), 8, '0') AS vote_id,
         ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST26["n"]})) AS i)
)
SELECT vote_id, {_PYDS_CAND_SQL} AS candidate_id, ts AS voted_at,
       {_PYDS_CAND_SQL} AS r_candidate_id, ts AS r_voted_at
FROM ev WHERE i < {_ST26["remap_from"]}
UNION ALL
SELECT vote_id, {_PYDS_CAND_SQL}, ts, NULL, NULL
FROM ev WHERE i >= {_ST26["remap_from"]} AND i < 119
UNION ALL
SELECT 'rhs-' || vote_id, NULL, NULL, {_PYDS_CAND_SQL}, ts
FROM ev WHERE i >= {_ST26["remap_from"]} AND i < 109
"""


@query("st26_pyds_stream_join_full", _ST26_SQL)
def st26_pyds_stream_join_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER join under the value-hash gate — both
    unmatched sides null-pad at watermark passage, with the ASYMMETRIC
    eviction contract the condition shape implies (left rows at own
    event time; right rows only at event time + ``within``) — see the
    _ST26 comment for the exact frontier arithmetic, including WHY the
    two feeds must advance through event time in lockstep (a trailing
    feed's batches get late-dropped under the max watermark policy; the
    unmatched-key population comes from a key remap instead). The key
    column is coalesced across sides so right-only rows keep their id.
    ``sf_dir`` unused — the transports ARE the sources."""
    cfg = _ST26
    name = "st26_pyds_parity"
    left, right = _remapped_feeds(spark, cfg)
    joined = jobs.stream_stream_join(
        left, right, key="vote_id",
        left_ts="voted_at", right_ts="voted_at",
        within=cfg["within"], watermark=cfg["delay"], how="fullOuter",
    ).select(*_JOIN_COLS)
    expected = 138
    # max watermark policy, as in st18: both streams exhaust, and under
    # the default min policy the earlier-finishing side would pin the
    # global watermark below every eviction threshold forever
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(joined, name, ck, "append", _NOW),
        lambda: spark.table(name).count() == expected,
        conf={"spark.sql.streaming.multipleWatermarkPolicy": "max"},
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST27 — per-side watermark delays under the DEFAULT min policy (the
# production-safe complement of st26's finished-upstream max policy)
# ---------------------------------------------------------------------------

# st26's lockstep full-outer shape, but the right stream carries its own
# 30.5 s delay and the policy is the default MIN: global watermark =
# min(119−0.5, 119−30.5) = +88.5 s — the LAGGING side's frontier governs
# eviction for BOTH sides. Matched ids < 30 emit eagerly; left-only ids
# 30..88 null-pad (l_ts < 88.5; 89..119 held), right-only remapped ids
# 30..78 null-pad (r_ts + 10 < 88.5; 79.. held). Expected = 30 + 59 + 49
# = 138 rows. Under the max policy the same plan would emit left-only
# through id 118 — the gate discriminates the policies, hash-verifying
# the min arithmetic a mixed-lateness production join relies on.
_ST27 = {"n": 120, "remap_from": 30, "delay": "500 milliseconds",
         "right_delay": "30500 milliseconds", "within": "10 seconds"}

_ST27_SQL = f"""
WITH ev AS (
  SELECT i,
         'vote-' || lpad(CAST(i AS VARCHAR), 8, '0') AS vote_id,
         ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST27["n"]})) AS i)
)
SELECT vote_id, {_PYDS_CAND_SQL} AS candidate_id, ts AS voted_at,
       {_PYDS_CAND_SQL} AS r_candidate_id, ts AS r_voted_at
FROM ev WHERE i < {_ST27["remap_from"]}
UNION ALL
SELECT vote_id, {_PYDS_CAND_SQL}, ts, NULL, NULL
FROM ev WHERE i >= {_ST27["remap_from"]} AND i < 89
UNION ALL
SELECT 'rhs-' || vote_id, NULL, NULL, {_PYDS_CAND_SQL}, ts
FROM ev WHERE i >= {_ST27["remap_from"]} AND i < 79
"""


@query("st27_pyds_min_policy_join", _ST27_SQL)
def st27_pyds_min_policy_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-outer stream-stream join with PER-SIDE watermark delays
    under the DEFAULT min multipleWatermarkPolicy: the right stream's
    30.5 s lateness allowance pins the global watermark at the lagging
    frontier, and BOTH sides' outer-null emissions obey it — the
    production contract for joining sources with different lateness
    profiles (min never evicts a row the slower stream could still
    match). See the _ST27 comment for the planted frontier arithmetic;
    the same plan under the max policy would emit 30 more left-only
    rows, so the gate discriminates the policies. ``sf_dir`` unused —
    the transports ARE the sources."""
    cfg = _ST27
    name = "st27_pyds_parity"
    left, right = _remapped_feeds(spark, cfg)
    joined = jobs.stream_stream_join(
        left, right, key="vote_id",
        left_ts="voted_at", right_ts="voted_at",
        within=cfg["within"], watermark=cfg["delay"],
        right_watermark=cfg["right_delay"], how="fullOuter",
    ).select(*_JOIN_COLS)
    expected = 138
    # explicit min policy (the Spark default) — this gate exists to pin
    # that default's arithmetic, so say it out loud
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(joined, name, ck, "append", _NOW),
        lambda: spark.table(name).count() == expected,
        conf={"spark.sql.streaming.multipleWatermarkPolicy": "min"},
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST28 — streaming CDC changefeed apply under the gate (the hash-gated
# form of streaming/jobs.start_latest_state over a changefeed; batch
# twin s15)
# ---------------------------------------------------------------------------

_ST28_N = 150

_ST28_SQL = f"""
WITH ev AS (
  SELECT i,
         ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {_ST28_N})) AS i)
), ch AS (
  SELECT CAST(i % 20 AS BIGINT) AS k,
         CAST(i AS BIGINT) AS seq,
         CASE WHEN i % 10 < 2 THEN 'D'
              WHEN i % 10 < 5 THEN 'I' ELSE 'U' END AS op,
         {_PYDS_CAND_SQL} AS val
  FROM ev
), latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM ch
  ) WHERE rn = 1
)
SELECT k, seq, val FROM latest WHERE op != 'D'
"""


@query("st28_pyds_cdc_apply", _ST28_SQL)
def st28_pyds_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC MERGE apply under the value-hash gate: a 150-event
    backlog drains through Trigger.AvailableNow into
    start_latest_state — per micro-batch latest-change-per-key
    compaction folded into the versioned state snapshot, 'D' rows
    retained as tombstones — and the LIVE VIEW of the final state
    (read_changefeed_state) is hashed against a full SQL replay of the
    changefeed. Keys fold 150 events onto 20 slots (i % 20) so every
    key sees ~7 superseded changes; ops derive from the event id
    residue, so four keys end deleted and the gate proves both the
    last-writer-wins compaction and the tombstone filter. The batch
    twin with a snapshot to merge ONTO is s15_cdc_apply. ``sf_dir``
    unused — the transport IS the source."""
    parsed = _via_envelope(_gate_source(
        spark, "vote_stream_dist", backlog_rows=_ST28_N,
        max_rows=_ST28_N, num_partitions=4,
    ))
    i = F.substring("vote_id", 6, 8).cast("long")
    changes = parsed.select(
        (i % 20).alias("k"),
        i.alias("seq"),
        F.when(i % 10 < 2, F.lit("D"))
        .when(i % 10 < 5, F.lit("I"))
        .otherwise(F.lit("U")).alias("op"),
        F.col("candidate_id").alias("val"),
    )
    state = _scratch_dir(prefix="rtvs_st28_pyds_parity_state_")
    _run_gate(
        spark, "st28_pyds_parity",
        lambda ck: jobs.start_latest_state(
            changes, state, ck, key_cols=("k",), ts_col="seq",
            tiebreak_cols=(), trigger={"availableNow": True},
        ),
    )
    return jobs.read_changefeed_state(spark, state)


# ---------------------------------------------------------------------------
# ST29 — RocksDB state store provider under the gate (the at-scale state
# backend; default HDFSBackedStateStore keeps all state on the JVM heap)
# ---------------------------------------------------------------------------

_ST29_SQL = f"""
WITH ev AS ({{EV}})
SELECT {_PYDS_STATE_SQL} AS address_state,
       CAST(COUNT(*) AS BIGINT) AS turnout
FROM ev GROUP BY 1
"""


@query("st29_pyds_rocksdb_state", _ST29_SQL.replace("{EV}", _PYDS_EV_SQL))
def st29_pyds_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The st3 turnout aggregation executed on the ROCKSDB state store
    provider — the production backend for large state (the default
    HDFSBackedStateStoreProvider keeps every key on the executor heap;
    at 100 TB-scale keyspaces only RocksDB's off-heap SST files +
    incremental checkpoint survive). The provider is scoped to this
    query's fresh checkpoint (the provider choice is BAKED into a
    checkpoint at first start) and the harness ASSERTS RocksDB actually
    served the query by checking a rocksdb custom metric in the final
    progress — a silent fallback to the heap provider fails the gate
    rather than passing it vacuously. Same hash gate as st3: counts
    must be identical across state backends. ``sf_dir`` unused — the
    transport IS the source."""
    name = "st29_pyds_parity"
    agg = jobs.turnout_by_location(_via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST1_PYDS_N)
    ))
    started = []

    def start(ck: str):
        started.append(jobs.start_to_memory(agg, name, ck, "complete", _NOW))
        return started[-1]

    _run_gate(
        spark, name, start,
        lambda: spark.table(name).agg(F.sum("turnout")).first()[0]
        == _ST1_PYDS_N,
        conf={
            "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        },
    )
    lp = started[-1].lastProgress or {}
    metrics = {
        k
        for op in lp.get("stateOperators", [])
        for k in (op.get("customMetrics") or {})
    }
    if not any("rocksdb" in k.lower() for k in metrics):
        raise AssertionError(
            "st29: RocksDB provider not in effect "
            f"(state metrics: {sorted(metrics)[:5]})"
        )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST30 — session windows as a LIVE streaming gate (ST9's streaming form,
# the last §2.9 row that only ran batch-mode): a real checkpointed
# append-mode session_window stream over the pyds transport, sessions
# closed by watermark passage, final sink hash-gated against a DuckDB
# gaps-and-islands sessionize twin.
# ---------------------------------------------------------------------------

# Burst timing (sources/pyds.burst_shift): groups of 10 events 1 s apart,
# bursts 120 s apart — so with a 30 s session gap every (state, burst)
# pair is exactly one session (intra-burst same-state deltas ≤ 9 s < 30;
# inter-burst deltas ≥ 111 s > 30). rpb=25 deliberately misaligns batch
# boundaries with bursts, so sessions EXTEND ACROSS micro-batches through
# the state store. The 90 500 ms watermark delay puts every watermark at
# x.5 s while session ends land on whole seconds — the append emission
# rule (end ≤ wm vs <) can never be load-bearing — and 90.5 < 120 keeps
# the frontier inside the previous burst, so the LAST burst (and the
# tail of the second-to-last) stays unemitted: the gate discriminates
# watermark-driven closure, not just sessionization.
_ST30 = {"n": 200, "rpb": 25, "burst": 10, "gap_s": 120,
         "session_gap_s": 30, "delay_ms": 90500}

_ST30_SQL = f"""
WITH raw AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         TIMESTAMP '2024-01-01 10:00:00'
           + ((CAST(i AS BIGINT) // {_ST30["burst"]}) * {_ST30["gap_s"]}
              + (CAST(i AS BIGINT) % {_ST30["burst"]}))
             * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST30["n"]})) AS i)
), st AS (
  SELECT {_PYDS_STATE_SQL} AS address_state, ts FROM raw
), lagged AS (
  SELECT address_state, ts,
         lag(ts) OVER (PARTITION BY address_state ORDER BY ts) AS prev_ts
  FROM st
), isl AS (
  SELECT address_state, ts,
         SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts
                    >= INTERVAL {_ST30["session_gap_s"]} SECOND
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY address_state ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
), sess AS (
  SELECT address_state,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL {_ST30["session_gap_s"]} SECOND AS session_end,
         CAST(COUNT(*) AS BIGINT) AS vote_count
  FROM isl GROUP BY address_state, sid
), fin AS (
  SELECT MAX(ts) - INTERVAL {_ST30["delay_ms"]} MILLISECOND AS final_wm
  FROM raw
)
SELECT session_start, session_end, address_state, vote_count
FROM sess, fin WHERE session_end <= fin.final_wm
"""


def _st30_expected_rows() -> int:
    """Driver-side simulation of the session-closure contract — ONLY the
    poll stop condition (the oracle SQL is the actual gate): sessions =
    per-(state, burst) groups; emitted iff last_ts + gap ≤ final
    watermark."""
    from ..sources.pyds import burst_shift, vote_event

    cfg = _ST30
    evs = []
    for i in range(cfg["n"]):
        t = (i // cfg["burst"]) * cfg["gap_s"] + (i % cfg["burst"])
        evs.append((t, vote_event(i, burst_shift(i, cfg["burst"],
                                                 cfg["gap_s"]))[3]))
    final_wm = max(t for t, _ in evs) - cfg["delay_ms"] / 1000.0
    last_in_session: dict[tuple, int] = {}
    for t, state in evs:
        key = (state, t // cfg["gap_s"])  # burst index = session id
        last_in_session[key] = max(last_in_session.get(key, -1), t)
    return sum(
        1 for t in last_in_session.values()
        if t + cfg["session_gap_s"] <= final_wm
    )


@query("st30_pyds_session_window", _ST30_SQL)
def st30_pyds_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9's streaming form under the value-hash gate: a REAL
    checkpointed append-mode streaming query running native
    ``session_window`` (streaming/jobs.session_votes) over the pyds
    transport with burst-timed events — activity bursts of 10 events
    1 s apart separated by 120 s pauses, against a 30 s session gap and
    a 90.5 s watermark delay. Sessions must (a) merge all same-state
    events of a burst, (b) extend across micro-batch boundaries through
    the state store (rpb=25 misaligns batches with bursts), and (c) be
    emitted to the append sink exactly when the watermark passes their
    end — the final burst and the r=9 tail of the second-to-last stay
    open/unemittable, so the gate verifies watermark-driven closure,
    not just batch sessionization. The DuckDB twin recomputes sessions
    as gaps-and-islands per state and applies the same final-watermark
    emission frontier. Batch twin through the same operator code:
    st9_session_window. ``sf_dir`` unused — the transport IS the
    source."""
    cfg = _ST30
    name = "st30_pyds_parity"
    parsed = _via_envelope(_gate_source(
        spark, rows_per_batch=cfg["rpb"], max_rows=cfg["n"],
        burst_size=cfg["burst"], burst_gap_s=cfg["gap_s"],
    ))
    agg = jobs.session_votes(
        parsed,
        gap=f"{cfg['session_gap_s']} seconds",
        watermark=f"{cfg['delay_ms']} milliseconds",
        ts_col="voted_at",
        group_cols=("address_state",),
    )
    expected = _st30_expected_rows()
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "append", _NOW),
        lambda: spark.table(name).count() == expected,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST19 — applyInPandasWithState (custom stateful operator) under the
# gate: per-candidate running cumulative per minute bucket.
# ---------------------------------------------------------------------------

_ST19_N = 180  # 3 one-minute buckets × 60 events

_ST19_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         date_trunc('minute',
           TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND) AS bucket
  FROM (SELECT unnest(range(0, {_ST19_N})) AS i)
), per AS (
  SELECT {_PYDS_CAND_SQL} AS candidate_id, bucket,
         COUNT(*) AS n
  FROM ev GROUP BY 1, 2
)
SELECT candidate_id, bucket,
       CAST(SUM(n) OVER (
         PARTITION BY candidate_id ORDER BY bucket
       ) AS BIGINT) AS cumulative
FROM per
"""


@query("st19_pyds_stateful_cumulative", _ST19_SQL)
def st19_pyds_stateful_cumulative(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The custom stateful operator (``applyInPandasWithState`` —
    streaming/jobs.cumulative_votes_stateful, ST-beyond: Q3's
    cumulative trend that no built-in windowed aggregate expresses)
    under the value-hash gate: per-candidate running totals per minute
    bucket, state = one long per key carried across micro-batches. The
    update-mode sink keeps every emission; a bucket touched by several
    batches is re-emitted with a larger cumulative, so the FINAL value
    per (candidate, bucket) is the max over emissions — which must
    equal the event-time cumulative the oracle computes (the source is
    in-order, so arrival-order state accumulation coincides with event
    time). ``sf_dir`` unused — the transport IS the source."""
    name = "st19_pyds_parity"
    cum = jobs.cumulative_votes_stateful(_via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST19_N)
    ))
    # final state: the per-key max cumulative (= the last bucket's
    # running total) sums to every event seen
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(cum, name, ck, "update", _NOW),
        lambda: spark.table(name)
        .groupBy("candidate_id")
        .agg(F.max("cumulative").alias("m"))
        .agg(F.sum("m"))
        .first()[0]
        == _ST19_N,
    )
    return (
        spark.table(name)
        .groupBy("candidate_id", "bucket")
        .agg(F.max("cumulative").alias("cumulative"))
    )


# ---------------------------------------------------------------------------
# ST20 — the PARTITIONED Python DataSource stream reader under the
# gate: offsets on the driver, event generation on executors.
# ---------------------------------------------------------------------------

_ST20_N = 160

_ST20_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {_ST20_N})) AS i)
)
SELECT {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM ev GROUP BY 1
"""


@query("st20_pyds_partitioned_source", _ST20_SQL)
def st20_pyds_partitioned_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PARTITIONED stream reader (sources/pyds.VoteStreamDistReader
    — full DataSourceStreamReader, not the Simple driver-side form)
    under the value-hash gate: the driver only ranges offsets
    (latestOffset), each micro-batch's [start, end) is sliced into 4
    input partitions, and event construction runs ON THE EXECUTORS —
    the reader shape that scales to a real feed (Kafka's split is the
    same: driver tracks offsets, executors fetch). 4 micro-batches × 4
    partitions; final per-candidate counts must equal the Simple
    reader's semantics exactly (same deterministic event function), so
    the gate certifies the partitioned read path loses, duplicates,
    and reorders nothing. ``sf_dir`` unused — the transport IS the
    source."""
    name = "st20_pyds_parity"
    parsed = _via_envelope(_gate_source(
        spark, "vote_stream_dist", rows_per_batch=40, max_rows=_ST20_N,
        num_partitions=4,
    ))
    agg = parsed.groupBy("candidate_id").agg(
        F.count("*").alias("vote_count")
    )
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "complete", _NOW),
        lambda: spark.table(name).agg(F.sum("vote_count")).first()[0]
        == _ST20_N,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST21 — foreachBatch ranked snapshot under the gate: the reference's
# rank/percentage dashboard query (Q2) applied per epoch to a
# complete-mode aggregate — writeStream forbids rank windows, so
# foreachBatch re-ranks each tiny snapshot (streaming/jobs.py:247).
# ---------------------------------------------------------------------------

_ST21_N = 120

_ST21_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {_ST21_N})) AS i)
), per AS (
  SELECT {_PYDS_CAND_SQL} AS candidate_id, COUNT(*) AS n
  FROM ev GROUP BY 1
), t AS (SELECT SUM(n) AS tot FROM per)
SELECT candidate_id, CAST(n AS BIGINT) AS vote_count,
       ROUND(CAST(n AS DOUBLE) * 100.0 / CAST(tot AS DOUBLE), 2)
         AS percentage,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, candidate_id) AS BIGINT)
         AS rank
FROM per, t
"""


@query("st21_pyds_foreachbatch_rank", _ST21_SQL)
def st21_pyds_foreachbatch_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """W2-in-streaming under the value-hash gate: Q2's rank/percentage
    snapshot produced by the foreachBatch pattern
    (streaming/jobs.start_ranked_snapshot) — writeStream forbids rank
    windows, so each epoch's COMPLETE aggregate (dimension-sized: 3
    rows) is re-ranked batch-side and handed to the sink writer. The
    gate takes the final epoch's snapshot (the one whose counts cover
    every event) and hash-verifies rank, count, and the rounded
    percentage against the oracle — the exact numbers the reference's
    leading-candidates dashboard panel shows (app.py Q2).
    ``sf_dir`` unused — the transport IS the source."""
    parsed = _via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST21_N)
    )
    agg = parsed.groupBy("candidate_id").agg(
        F.count("*").alias("vote_count")
    )
    snapshots: dict[int, list] = {}

    def sink_writer(ranked: DataFrame, epoch_id: int) -> None:
        # dimension-sized by contract (3 candidates) — the collect IS
        # the sink handoff, not a data-path materialization
        snapshots[epoch_id] = ranked.collect()

    def final():
        # list() snapshot: the foreachBatch thread appends concurrently
        # with this poll
        return next(
            (
                rows for rows in list(snapshots.values())
                if sum(r["vote_count"] for r in rows) == _ST21_N
            ),
            None,
        )

    _run_gate(
        spark, "st21_pyds_parity",
        lambda ck: jobs.start_ranked_snapshot(
            agg, ck, sink_writer, trigger=_NOW
        ),
        lambda: final() is not None,
    )
    return _local_df(spark, final())


# ---------------------------------------------------------------------------
# ST22 — Trigger.AvailableNow backlog drain under the gate: the query
# terminates ITSELF once the start-time backlog is processed (the
# scheduled-backfill / catch-up operational pattern).
# ---------------------------------------------------------------------------

_ST22_N = 200

_ST22_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {_ST22_N})) AS i)
)
SELECT {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM ev GROUP BY 1
"""


@query("st22_pyds_available_now", _ST22_SQL)
def st22_pyds_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow UNDER THE GATE: the partitioned source
    reports a 200-event backlog already queued at query start
    (``backlog_rows`` — a topic with unconsumed history), the query
    drains it through the same checkpointed exactly-once machinery as a
    live stream, then TERMINATES ITSELF — the run waits for the query
    to end instead of polling a completion condition. This is the
    scheduled-backfill
    pattern (run every night, consume what accumulated, exit; restarts
    resume from the WAL) — the operational mode Kafka users run with
    ``Trigger.AvailableNow`` and the reference's always-on consumer
    (README.md:110-118) cannot express. The drain is still distributed:
    the backlog batch is sliced into 4 executor-side partitions
    (VoteStreamDistReader.partitions). Admission control
    (maxOffsetsPerTrigger-style multi-batch drains) is not exposed by
    the Python DataSource API, so the backlog lands as one batch —
    documented trade-off. ``sf_dir`` unused — the transport IS the
    source."""
    name = "st22_pyds_parity"
    parsed = _via_envelope(_gate_source(
        spark, "vote_stream_dist", backlog_rows=_ST22_N, max_rows=_ST22_N,
        num_partitions=4,
    ))
    agg = parsed.groupBy("candidate_id").agg(
        F.count("*").alias("vote_count")
    )
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(
            agg, name, ck, "complete", {"availableNow": True}
        ),
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST23 — streaming UNION of two independent sources under the gate:
# two regional feeds merged into one aggregate, each source keeping its
# own offsets in the same checkpoint.
# ---------------------------------------------------------------------------

_ST23_N1 = 120  # simple-reader feed: events [0, 120)
_ST23_N2 = 120  # partitioned feed:   events [120, 240) via id_offset

_ST23_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {_ST23_N1 + _ST23_N2})) AS i)
)
SELECT {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM ev GROUP BY 1
"""


@query("st23_pyds_stream_union", _ST23_SQL)
def st23_pyds_stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UNION under the value-hash gate: two INDEPENDENT
    streaming sources — the Simple driver-side reader carrying events
    [0, 120) and the partitioned executor-side reader carrying
    [120, 240) via ``id_offset`` (two regional feeds / topics) — merged
    with ``union()`` into ONE envelope-parse → aggregate pipeline. The
    checkpoint tracks each source's offsets independently (Spark WALs a
    composite offset per micro-batch), so recovery replays both feeds
    consistently; the gate proves the merged per-candidate counts cover
    every event from both feeds exactly once. This is the fan-in shape
    a multi-region deployment runs (one consumer over N topic
    mirrors). ``sf_dir`` unused — the transports ARE the sources."""
    # 60/batch → 2 micro-batches per source: still multi-batch (the
    # composite-offset WAL is exercised) at half the per-batch fixed
    # cost that made this the slowest bench row at 40/batch
    s1 = _gate_source(spark, rows_per_batch=60, max_rows=_ST23_N1)
    s2 = _gate_source(
        spark, "vote_stream_dist", rows_per_batch=60, max_rows=_ST23_N2,
        id_offset=_ST23_N1, num_partitions=4,
    )
    agg = _via_envelope(s1.union(s2)).groupBy("candidate_id").agg(
        F.count("*").alias("vote_count")
    )
    name = "st23_pyds_parity"
    total = _ST23_N1 + _ST23_N2
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "complete", _NOW),
        lambda: spark.table(name).agg(F.sum("vote_count")).first()[0]
        == total,
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST24 — UPDATE output mode under the gate: only keys whose aggregate
# CHANGED are emitted per micro-batch; the sink's last-row-per-key
# reconstruction must equal the full-history counts.
# ---------------------------------------------------------------------------

_ST24_N = 120

_ST24_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {_ST24_N})) AS i)
)
SELECT {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM ev GROUP BY 1
"""


@query("st24_pyds_update_mode", _ST24_SQL)
def st24_pyds_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode under the value-hash gate: unlike complete
    mode (st2/st20 — whole aggregate re-emitted every epoch), update
    mode emits ONLY the keys whose value changed in that micro-batch —
    the delta contract a keyed sink (Redis, upsert table) consumes at
    scale, where re-emitting a billion-key aggregate per trigger is a
    non-starter. The memory sink accumulates those per-epoch update
    rows; the query reconstructs final state the way a real upsert
    consumer does — last write per key (counts are monotone, so
    max == last) — and the gate proves the update stream carried
    every key to its exact final count, no lost or stale delta.
    ``sf_dir`` unused — the transport IS the source."""
    parsed = _via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST24_N)
    )
    agg = parsed.groupBy("candidate_id").agg(
        F.count("*").alias("vote_count")
    )
    name = "st24_pyds_parity"
    final_state = (
        lambda: spark.table(name)
        .groupBy("candidate_id")
        .agg(F.max("vote_count").alias("vote_count"))
    )
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "update", _NOW),
        lambda: final_state().agg(F.sum("vote_count")).first()[0]
        == _ST24_N,
    )
    return final_state()


# ---------------------------------------------------------------------------
# ST25 — dimension refresh across a checkpoint resume: phase 1 enriches
# a backlog with dim v1, the dim table is overwritten, phase 2 resumes
# the SAME checkpoint and enriches the next backlog with v2.
# ---------------------------------------------------------------------------

_ST25_PHASE = 120  # events per phase: [0,120) sees v1, [120,240) sees v2

_ST25_V2 = {
    "c1": "Management Party",          # unchanged
    "c2": "Reformed Liberation Party",  # renamed between phases
    "c3": "United Republic Party",     # unchanged
}

_ST25_SQL = f"""
WITH ev AS (
  SELECT i,
         ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {2 * _ST25_PHASE})) AS i)
), lab AS (
  SELECT {_PYDS_CAND_SQL} AS candidate_id, i FROM ev
)
SELECT candidate_id,
       CASE WHEN i < {_ST25_PHASE} THEN
         CASE candidate_id WHEN 'c1' THEN 'Management Party'
              WHEN 'c2' THEN 'Liberation Party'
              ELSE 'United Republic Party' END
       ELSE
         CASE candidate_id WHEN 'c1' THEN '{_ST25_V2["c1"]}'
              WHEN 'c2' THEN '{_ST25_V2["c2"]}'
              ELSE '{_ST25_V2["c3"]}' END
       END AS party,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM lab GROUP BY 1, 2
"""


@query("st25_pyds_dim_refresh", _ST25_SQL)
def st25_pyds_dim_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment across a DIMENSION REFRESH: phase 1
    drains a 120-event backlog (Trigger.AvailableNow) joined against
    dim v1 on disk; the dimension parquet is then overwritten (c2's
    party renamed — the SCD type-1 update every reference deployment
    eventually performs); phase 2 RESUMES THE SAME CHECKPOINT, the
    source continues from offset 120, and the rebuilt plan re-reads the
    refreshed dimension — so events [0,120) carry v1 labels and
    [120,240) carry v2, which the oracle pins row-for-row. This is the
    contract a warehouse relies on nightly: restarting an enrichment
    stream picks up dimension changes without reprocessing (offsets
    WAL-ed), and the old output is immutable. The enrichment itself is
    stateless append — no state store, the cheapest streaming shape.
    ``sf_dir`` unused — the transport IS the source."""
    name = "st25_pyds_parity"
    dim_dir = _scratch_dir(prefix="rtvs_st25_dim_")
    rows_acc: list = []

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        rows_acc.extend(batch_df.collect())  # 120 tiny rows per phase

    def start(n_total: int):
        parsed = _via_envelope(_gate_source(
            spark, "vote_stream_dist", backlog_rows=n_total,
            max_rows=n_total, num_partitions=4,
        ))
        dim = spark.read.parquet(dim_dir)  # fresh read — sees the refresh
        enriched = parsed.join(dim, "candidate_id").select(
            "candidate_id", "party"
        )
        return (
            lambda ck: enriched.writeStream.outputMode("append")
            .option("checkpointLocation", ck)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )

    v1 = _local_df(
        spark, _PYDS_DIM,
        "candidate_id string, candidate_name string, party string",
    ).select("candidate_id", "party")
    v1.write.mode("overwrite").parquet(dim_dir)
    ckpt = _run_gate(spark, name, start(_ST25_PHASE))
    v2 = _local_df(
        spark, [(c, p) for c, p in _ST25_V2.items()],
        "candidate_id string, party string",
    )
    v2.write.mode("overwrite").parquet(dim_dir)
    _run_gate(spark, name, start(2 * _ST25_PHASE), ckpt=ckpt)
    if len(rows_acc) != 2 * _ST25_PHASE:
        raise AssertionError(
            f"st25: expected {2 * _ST25_PHASE} enriched rows, "
            f"got {len(rows_acc)}"
        )
    return (
        _local_df(spark, rows_acc)
        .groupBy("candidate_id", "party")
        .agg(F.count(F.lit(1)).alias("vote_count"))
    )


# ---------------------------------------------------------------------------
# ST17 — state-store READER under the gate: a finished streaming
# aggregate's checkpointed state, read back as a batch DataFrame
# (spark.read.format("statestore")) — the operational debugging surface
# a 100 TB streaming deployment uses to inspect live state.
# ---------------------------------------------------------------------------

_ST17_N = 120

_ST17_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {_ST17_N})) AS i)
)
SELECT {_PYDS_CAND_SQL} AS candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM ev GROUP BY 1
"""


@query("st17_state_store_reader", _ST17_SQL)
def st17_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state-store data source (Spark 4's
    ``spark.read.format("statestore").load(checkpoint)``) under the
    value-hash gate: run the candidate-count streaming aggregate over
    the pyds transport to completion, STOP the query, then read the
    checkpoint's state store back as a BATCH DataFrame — key struct →
    candidate_id, value struct → the running count. The returned counts
    come from the state files themselves (not the sink), so the gate
    certifies that the on-disk streaming state equals the semantic
    aggregate — the audit a production operator runs when a streaming
    job's numbers are questioned, and the introspection surface the
    reference's black-box consumer offsets cannot offer.
    ``sf_dir`` unused — the transport IS the source."""
    parsed = _via_envelope(
        _gate_source(spark, rows_per_batch=40, max_rows=_ST17_N)
    )
    agg = parsed.groupBy("candidate_id").agg(
        F.count("*").alias("vote_count")
    )
    name = "st17_pyds_parity"
    ckpt = _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "complete", _NOW),
        lambda: spark.table(name).agg(F.sum("vote_count")).first()[0]
        == _ST17_N,
    )
    state = spark.read.format("statestore").load(ckpt)
    # the state-store row layout is internal and may shift across Spark
    # minor versions: derive the single value field from the schema
    # instead of hardcoding its name, and fail loudly if the layout ever
    # grows more fields (advisor r5)
    value_fields = state.schema["value"].dataType.fieldNames()
    if len(value_fields) != 1:
        raise AssertionError(
            f"statestore value layout changed: {value_fields}"
        )
    return state.select(
        F.col("key.candidate_id").alias("candidate_id"),
        F.col(f"value.{value_fields[0]}").cast("long").alias("vote_count"),
    )


# ---------------------------------------------------------------------------
# W6 — window functions beyond the reference's surface (§2.5 notes the
# reference uses no LEAD/NTILE/FIRST_VALUE; a switching user needs them)
# ---------------------------------------------------------------------------

_W6_SQL = """
SELECT event_id, user_id, event_type,
       lead(event_id) OVER u AS next_event_id,
       first_value(event_id) OVER u AS first_event_id,
       CAST(ntile(4) OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS BIGINT)
         AS value_quartile
FROM events
WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("w6_lead_ntile", _W6_SQL)
def w6_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD / FIRST_VALUE / NTILE over the event stream — the window
    surface the reference lacks (SURVEY §2.5). Orderings are made total
    (ties broken by event_id) so results are engine-independent. Two
    window partitionings → two shuffles; both keyed, no global sort."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.lead("event_id").over(u).alias("next_event_id"),
        F.first("event_id").over(u).alias("first_event_id"),
        F.ntile(4).over(q).cast("long").alias("value_quartile"),
    )


# ---------------------------------------------------------------------------
# SET1 — set operations (§2.7: none in the reference; standard SQL surface)
# ---------------------------------------------------------------------------

_SET1_SQL = """
(SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 5000
 INTERSECT
 SELECT s_nationkey FROM supplier)
UNION
(SELECT c_nationkey FROM customer
 EXCEPT
 SELECT s_nationkey FROM supplier)
"""


@query("set1_ops", _SET1_SQL)
def set1_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION with SQL set (distinct) semantics —
    nations that either host a supplier and a high-balance customer, or
    host customers but no supplier. Each set op hash-aggregates on the
    single key column before combining — no wide rows move."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    rich = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_nationkey").alias("nationkey")
    )
    allc = cust.select(F.col("c_nationkey").alias("nationkey"))
    return rich.intersect(supp).union(allc.subtract(supp)).distinct()


# ---------------------------------------------------------------------------
# ST31 — streaming ingest through the persisted-dedup-index path
# (X288): per micro-batch DedupIndex probe + absorb via foreachBatch
# ---------------------------------------------------------------------------

_ST31_N = 200
_ST31_RPB = 40
_ST31_REPLAY_EVERY = 10
_ST31_REPLAY_OFF = 45   # > rows_per_batch: every replay lands in a LATER
                        # micro-batch than its original, so the verdict is
                        # always dup_in_index (the cross-batch contract)

_ST31_SQL = f"""
WITH ev AS (
  SELECT CASE WHEN i >= {_ST31_REPLAY_OFF} AND i % {_ST31_REPLAY_EVERY} = 0
              THEN i - {_ST31_REPLAY_OFF} ELSE i END AS eff
  FROM (SELECT unnest(range(0, {_ST31_N})) AS i)
), d AS (
  SELECT 'vote-' || lpad(CAST(eff AS VARCHAR), 8, '0') AS vote_id FROM ev
)
SELECT vote_id,
       CAST(COUNT(*) AS BIGINT) AS n_deliveries,
       CAST(1 AS BIGINT) AS n_kept,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dup_in_index
FROM d GROUP BY vote_id
"""


@query("st31_pyds_index_dedup_stream", _ST31_SQL)
def st31_pyds_index_dedup_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X288: the crawler-to-index production loop UNDER THE GATE — a
    checkpointed stream whose every micro-batch is PROBED against the
    accumulated exact DedupIndex and then ABSORBED into it
    (foreachBatch; writeStream cannot host the probe's window+join),
    connecting the streaming layer to the index family the way a live
    crawl feeds a corpus (a production loop additionally calls
    idx.save() per epoch so a restart reloads instead of rebuilding —
    the persistence contract dedup_index_roundtrip gates; st5 gates
    the stream-side checkpoint restart). The source replays event i−{off} at every i ≡ 0 (mod
    {every}) — duplicate deliveries a consumer must drop; the replay
    offset {off} EXCEEDS rows_per_batch {rpb}, so every replay arrives
    micro-batches after its original and the index (not within-batch
    state) must catch it: n_kept must be exactly 1 per vote and every
    extra delivery must verdict dup_in_index. A probe that failed to
    see absorbed state, or an absorb that dropped a batch, breaks the
    value hash.

    100 TB shape: per epoch ONE fingerprint projection + index
    anti-join semantics (operators/dedup.incremental_dedup — 16 B
    keys, bodies never shuffle) and an append-only absorb; the
    epoch-sized collect is the sink handoff of the st21 precedent, not
    a data-path materialization. ``sf_dir`` unused — the transport IS
    the source."""
    from ..operators import dedup as dedup_ops

    stream = _gate_source(
        spark, rows_per_batch=_ST31_RPB, max_rows=_ST31_N,
        replay_every=_ST31_REPLAY_EVERY, replay_offset=_ST31_REPLAY_OFF,
    )
    empty = _local_df(spark, [], "doc_id string, text string")
    state = {"idx": dedup_ops.DedupIndex.build(empty, "exact")}
    results: dict[int, list] = {}

    def probe_absorb(batch: DataFrame, epoch_id: int) -> None:
        if epoch_id in results:
            # idempotent replay guard: a retried epoch must not re-probe
            # an already-absorbed batch (its rows would reclassify as
            # dup_in_index and corrupt the per-vote counts)
            return
        docs = batch.select(
            F.col("vote_id").alias("doc_id"),
            F.col("vote_id").alias("text"),
        )
        idx = state["idx"]
        st = idx.probe(docs)
        rows = st.collect()  # epoch-sized sink handoff (st21 precedent)
        results[epoch_id] = rows
        statuses = _local_df(spark, rows, st.schema)
        idx = idx.absorb(docs, statuses)
        if len(results) % 3 == 0:
            # cut the lineage every few epochs: each absorb nests an
            # anti join against the whole prior chain, so an unpinned
            # index makes epoch E's probe re-execute O(E) joins — the
            # checkpoint pins the (tiny) accumulated fingerprints and
            # keeps per-epoch cost flat (st35/bpe_train discipline)
            idx = idx.checkpointed()
        state["idx"] = idx

    _run_gate(
        spark, "st31_pyds_parity",
        lambda ck: stream.writeStream.foreachBatch(probe_absorb)
        .option("checkpointLocation", ck).trigger(**_NOW).start(),
        lambda: sum(len(v) for v in list(results.values())) >= _ST31_N,
    )
    return _verdict_counts(spark, results)


st31_pyds_index_dedup_stream.__doc__ = (
    st31_pyds_index_dedup_stream.__doc__.format(
        off=_ST31_REPLAY_OFF, every=_ST31_REPLAY_EVERY, rpb=_ST31_RPB
    )
)


# ---------------------------------------------------------------------------
# ST32 — CHAINED stateful operators in one streaming query: stream-stream
# inner join → event-time tumbling-window aggregation (judge-r9 ask #4)
# ---------------------------------------------------------------------------
#
# Every stateful operator is gated individually (join matrix st15/18/26/
# 27, windows st4/st6, dedup st7) but real pipelines COMPOSE them, and
# watermark propagation across operators is a known Spark correctness
# minefield: the join's output watermark (delayed by its event-time
# bound) governs the downstream aggregate's late-drop AND emission
# frontiers. Planted arithmetic (lockstep feeds, rpb 40, n 120, 0.5 s
# allowance, within=3 s, 20 s windows):
#  - MEASURED composition semantics (probed on this engine before
#    pinning): a co-arriving matched pair passes the JOIN regardless
#    of lateness (no input filter between lockstep sides — no
#    buffering is needed), and the downstream aggregate's late-drop
#    frontier LAGS one micro-batch behind a standalone aggregate's:
#    during batch b it drops a row iff the row's WINDOW END is at or
#    below the watermark derived from batches ≤ b−2 (the propagated
#    "late events" watermark is read from the PREVIOUS batch's
#    simulation — chained stateful operators pay one extra batch of
#    propagation delay; st6 gates the standalone b−1 rule).
#  - plants: i=40 → ts 15 (window end 20; batch-1 lagged frontier is
#    pre-watermark) ⇒ KEPT and folded into event-time window [0,20) —
#    the row a standalone agg would have dropped, so the gate
#    DISCRIMINATES the chained frontier from st6's; i=80 → ts 19
#    (end 20 ≤ batch-2 lagged frontier 38.5) ⇒ DROPPED.
#  - the join may shift any frontier by −within (3 s): no window end
#    (multiples of 20) lies in [35.5, 38.5] or in (115.5, 118.5], so
#    every drop verdict and the emitted window set {ends 20..100} are
#    insensitive to the −within ambiguity. Window [100,120) is held
#    in state, never emitted.
_ST32 = {"n": 120, "rpb": 40, "delay": "500 milliseconds",
         "within": "3 seconds", "late_every": 40, "late_by": 25,
         "very_late_every": 80, "very_late_by": 61, "win_s": 20}

_ST32_SQL = f"""
WITH raw AS (
  SELECT i,
         ('0x' || substr(md5('vote:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         CAST(i AS BIGINT) // {_ST32["rpb"]} AS b,
         TIMESTAMP '2024-01-01 10:00:00'
           + CAST(i AS BIGINT) * INTERVAL 1 SECOND
           - CASE WHEN i > 0 AND i % {_ST32["very_late_every"]} = 0
                    THEN {_ST32["very_late_by"]}
                  WHEN i > 0 AND i % {_ST32["late_every"]} = 0
                    THEN {_ST32["late_by"]}
                  ELSE 0 END
             * INTERVAL 1 SECOND AS ts
  FROM (SELECT unnest(range(0, {_ST32["n"]})) AS i)
), wm AS (
  -- the CHAINED aggregate's lagged late-events frontier: during batch
  -- b it is derived from batches <= b-2 (one extra batch of
  -- propagation delay vs st6's standalone b-1 rule — measured, see
  -- the _ST32 comment)
  SELECT b,
         max(mx) OVER (ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - INTERVAL 500 MILLISECOND AS wm_ts
  FROM (SELECT b, max(ts) AS mx FROM raw GROUP BY b)
), kept AS (
  -- the aggregate's late-drop rule (st6's window-end form), applied
  -- THROUGH the join at the lagged frontier
  SELECT r.* FROM raw r JOIN wm USING (b)
  WHERE wm.wm_ts IS NULL
     OR TIMESTAMP '2024-01-01 10:00:00'
        + (((epoch(r.ts)
             - epoch(TIMESTAMP '2024-01-01 10:00:00'))::BIGINT
            // {_ST32["win_s"]}) * {_ST32["win_s"]} + {_ST32["win_s"]})
          * INTERVAL 1 SECOND > wm.wm_ts
), fin AS (
  SELECT max(ts) - INTERVAL 500 MILLISECOND AS final_wm FROM raw
), win AS (
  SELECT TIMESTAMP '2024-01-01 10:00:00'
           + ((epoch(ts)
               - epoch(TIMESTAMP '2024-01-01 10:00:00'))::BIGINT
              // {_ST32["win_s"]}) * {_ST32["win_s"]}
             * INTERVAL 1 SECOND AS window_start,
         {_PYDS_CAND_SQL} AS candidate_id
  FROM kept
)
SELECT window_start,
       window_start + INTERVAL {_ST32["win_s"]} SECOND AS window_end,
       candidate_id,
       CAST(COUNT(*) AS BIGINT) AS vote_count
FROM win, fin
WHERE window_start + INTERVAL {_ST32["win_s"]} SECOND <= fin.final_wm
GROUP BY 1, 2, 3
"""


def _st32_expected_rows() -> int:
    """Driver-side simulation of the chained-operator contract — ONLY
    the poll stop condition (the oracle SQL is the actual gate)."""
    from ..sources.pyds import late_shift, vote_event

    cfg = _ST32
    evs = []
    for i in range(cfg["n"]):
        sh = late_shift(
            i, cfg["late_every"], cfg["late_by"],
            cfg["very_late_every"], cfg["very_late_by"],
        )
        evs.append((i // cfg["rpb"], i - sh, vote_event(i, sh)[2]))
    bmax: dict[int, float] = {}
    for b, t, _ in evs:
        bmax[b] = max(bmax.get(b, float("-inf")), t)
    groups = set()
    final_wm = max(t for _, t, _ in evs) - 0.5
    for b, t, cand in evs:
        prior = [bmax[x] for x in bmax if x <= b - 2]  # lagged frontier
        wm = (max(prior) - 0.5) if prior else None
        wend = (t // cfg["win_s"] + 1) * cfg["win_s"]
        if wm is not None and wend <= wm:
            continue  # window already finalized: dropped at the agg
        if wend <= final_wm:
            groups.add((t // cfg["win_s"], cand))
    return len(groups)


@query("st32_pyds_join_then_window", _ST32_SQL)
def st32_pyds_join_then_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST32: two stateful operators CHAINED in one streaming query —
    stream-stream inner join (within 3 s event-time bound) feeding an
    event-time tumbling-window aggregation, append mode, under the
    value-hash gate with a planted late-data frontier. See the _ST32
    comment for the full frontier arithmetic: the chained aggregate's
    late-drop frontier LAGS one micro-batch behind a standalone
    aggregate's (measured on this engine, then pinned), and the plants
    are chosen so the gate DISCRIMINATES that chained frontier from
    st6's standalone rule — one late row a standalone agg would drop
    must fold through the join into its event-time window, a later one
    must still be dropped — while staying insensitive to the −within
    propagation ambiguity. Only finalized windows reach the append
    sink; the open window is held in state. ``sf_dir`` unused — the
    transports ARE the sources."""
    cfg = _ST32
    name = "st32_pyds_parity"

    def src() -> DataFrame:
        return _via_envelope(_gate_source(
            spark, rows_per_batch=cfg["rpb"], max_rows=cfg["n"],
            late_every=cfg["late_every"], late_by=cfg["late_by"],
            very_late_every=cfg["very_late_every"],
            very_late_by=cfg["very_late_by"],
        ))

    joined = jobs.stream_stream_join(
        src(), src(), key="vote_id",
        left_ts="voted_at", right_ts="voted_at",
        within=cfg["within"], watermark=cfg["delay"], how="inner",
    )
    agg = (
        joined.groupBy(
            F.window("voted_at", f"{cfg['win_s']} seconds").alias("w"),
            "candidate_id",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("vote_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "candidate_id",
            "vote_count",
        )
    )
    expected = _st32_expected_rows()
    # max watermark policy as in st18/st26: both feeds exhaust, and the
    # chained aggregate can only flush once the global watermark takes
    # the final frontier
    _run_gate(
        spark, name,
        lambda ck: jobs.start_to_memory(agg, name, ck, "append", _NOW),
        lambda: spark.table(name).count() == expected,
        conf={"spark.sql.streaming.multipleWatermarkPolicy": "max"},
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# ST33 — crawler CRASH-RECOVERY seam: the st31 index-dedup stream stopped
# mid-corpus and restarted from BOTH durable artifacts together — the
# stream checkpoint (offsets) AND the per-epoch-saved DedupIndex
# ---------------------------------------------------------------------------
#
# st5 gates the stream-side restart (checkpointed offsets + state store),
# dedup_index_roundtrip gates index save/load, st31 gates the
# probe→absorb loop — but the seam a real crawler crash exercises is all
# three AT ONCE: phase 1 runs the st31 loop with the source capped at
# half the deliveries, SAVING the index to an immutable epoch dir after
# every absorb (versioned snapshots — saving over the dir the loaded
# artifacts lazily read would be a read-under-overwrite); the process
# state is then discarded and phase 2 restarts from the SAME checkpoint
# with the cap lifted and the index RELOADED from the latest snapshot.
# Replay offset 45 > rpb 40 still puts every duplicate delivery in a
# later micro-batch, and several replays STRADDLE the restart (original
# before the cap, replay after), so the gate proves the reloaded index
# carries phase-1 state: identical per-vote counts to st31's
# uninterrupted oracle (n_kept=1, every extra delivery dup_in_index).


@query("st33_pyds_index_dedup_restart", _ST31_SQL)
def st33_pyds_index_dedup_restart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST33: st31's crawler-to-index loop under a mid-corpus RESTART —
    the crash-recovery seam (stream checkpoint ∧ index persistence)
    gated as one query; see the section comment for the phase plan.
    Each snapshot publishes the absorbed index AND the epoch's verdicts
    as ONE atomic rename (exactly-once output through the crash), and
    phase 2 recovers the verdict history from the snapshots so a
    Spark-retried epoch is skipped instead of re-probed against an
    index that already absorbed it. ``sf_dir`` unused — the transport
    IS the source."""
    import json
    import os

    from ..operators import dedup as dedup_ops

    empty = _local_df(spark, [], "doc_id string, text string")
    results: dict[int, list] = {}
    idx_root = _scratch_dir(prefix="rtvs_st33_idx_")
    state = {"idx": dedup_ops.DedupIndex.build(empty, "exact")}

    def probe_absorb(batch: DataFrame, epoch_id: int) -> None:
        if epoch_id in results:
            return  # idempotent epoch-retry guard (st31)
        docs = batch.select(
            F.col("vote_id").alias("doc_id"),
            F.col("vote_id").alias("text"),
        )
        idx = state["idx"]
        st = idx.probe(docs)
        rows = st.collect()  # epoch-sized sink handoff (st21 precedent)
        statuses = _local_df(spark, rows, st.schema)
        nxt = idx.absorb(docs, statuses)
        # immutable per-epoch snapshot carrying the ABSORBED index AND
        # this epoch's verdicts TOGETHER, published by atomic rename —
        # stopping the query is the simulated crash and can land
        # anywhere, so a half-written snapshot must be invisible AND
        # verdicts can
        # never be counted for an epoch whose absorb was lost (nor an
        # absorbed epoch re-probed as all-dups): exactly-once output
        # through crash = the two artifacts commit as one unit
        tmp = os.path.join(idx_root, f"._e{epoch_id}.tmp")
        nxt.save(tmp)
        with open(os.path.join(tmp, "_verdicts.json"), "w") as fh:
            json.dump([[r["doc_id"], r["status"]] for r in rows], fh)
        os.rename(tmp, os.path.join(idx_root, f"e{epoch_id}"))
        results[epoch_id] = rows
        state["idx"] = nxt

    def start(max_rows: int):
        stream = _gate_source(
            spark, rows_per_batch=_ST31_RPB, max_rows=max_rows,
            replay_every=_ST31_REPLAY_EVERY, replay_offset=_ST31_REPLAY_OFF,
        )
        return (
            lambda ck: stream.writeStream.foreachBatch(probe_absorb)
            .option("checkpointLocation", ck).trigger(**_NOW).start()
        )

    def seen(want: int):
        return lambda: sum(len(v) for v in list(results.values())) >= want

    name = "st33_pyds_parity"
    half = _ST31_N // 2
    ckpt = _run_gate(spark, name, start(half), seen(half))
    # ---- simulated crash: ALL in-memory state discarded; index
    # AND verdict history recover from the published snapshots
    # (an epoch Spark retries after restart then hits the results
    # guard instead of re-probing an already-absorbed batch) ------
    results.clear()
    saves = sorted(
        int(d[1:]) for d in os.listdir(idx_root) if d.startswith("e")
    )
    for e in saves:
        with open(os.path.join(idx_root, f"e{e}", "_verdicts.json")) as fh:
            results[e] = [
                {"doc_id": d, "status": s} for d, s in json.load(fh)
            ]
    state["idx"] = dedup_ops.DedupIndex.load(
        spark, os.path.join(idx_root, f"e{saves[-1]}")
    )
    _run_gate(spark, name, start(_ST31_N), seen(_ST31_N), ckpt)
    return _verdict_counts(spark, results)


# ---------------------------------------------------------------------------
# ST35 / X308 — index COMPACTION under the live stream: st31's
# probe→absorb crawler loop with DedupIndex.compact() (X304) running
# INSIDE the loop every 2nd processed epoch, plus once after shutdown.
# The ops question this gates: can the LSM-style maintenance pass run
# while the crawler keeps absorbing, without perturbing a single verdict
# and without losing absorbed state across the fold? The per-vote
# verdict oracle is st31's; three certification columns pin that the
# maintenance actually HAPPENED and preserved everything:
#   gen_trace         — the generation cursor observed after each
#                       processed epoch. Deterministic from the cadence:
#                       absorb bumps the cursor, compact resets it to 0,
#                       so 5 epochs with compacts after #2 and #4 read
#                       "1,0,1,0,1" — a loop that skipped (or doubled)
#                       a compact breaks the value hash.
#   final_generations — distinct generations across artifacts after the
#                       post-shutdown compact (must be 1).
#   index_size        — fingerprint rows in the final index (must equal
#                       the distinct vote ids: nothing dropped by any
#                       fold, nothing duplicated by any absorb).
# ---------------------------------------------------------------------------

_ST35_COMPACT_EVERY = 2

_ST35_SQL = f"""
WITH ev AS (
  SELECT CASE WHEN i >= {_ST31_REPLAY_OFF} AND i % {_ST31_REPLAY_EVERY} = 0
              THEN i - {_ST31_REPLAY_OFF} ELSE i END AS eff
  FROM (SELECT unnest(range(0, {_ST31_N})) AS i)
), d AS (
  SELECT 'vote-' || lpad(CAST(eff AS VARCHAR), 8, '0') AS vote_id FROM ev
), agg AS (
  SELECT vote_id,
         CAST(COUNT(*) AS BIGINT) AS n_deliveries,
         CAST(1 AS BIGINT) AS n_kept,
         CAST(COUNT(*) - 1 AS BIGINT) AS n_dup_in_index
  FROM d GROUP BY vote_id
), tot AS (
  SELECT CAST(COUNT(DISTINCT vote_id) AS BIGINT) AS index_size FROM d
)
SELECT agg.vote_id, agg.n_deliveries, agg.n_kept, agg.n_dup_in_index,
       '1,0,1,0,1' AS gen_trace,
       CAST(1 AS BIGINT) AS final_generations,
       tot.index_size
FROM agg, tot
"""


@query("st35_pyds_index_dedup_compact", _ST35_SQL)
def st35_pyds_index_dedup_compact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X308: st31's crawler-to-index loop with LIVE in-loop compaction —
    every 2nd processed epoch the absorbed DedupIndex is folded by
    X304's compact() while the stream keeps delivering, and the
    replayed duplicates that STRADDLE a compact (replay offset 45 >
    rows_per_batch 40 puts every replay 2+ epochs after its original,
    so several probes read state that has been folded since it was
    absorbed) must still verdict dup_in_index. See the section comment
    for the three certification columns; the verdict half of the oracle
    is st31's verbatim. Empty trailing micro-batches are ignored (the
    compaction cadence counts PROCESSED epochs, not epoch ids), so the
    trace is deterministic whatever the source's shutdown timing.

    100 TB shape: compaction is the maintenance pass a repeat-crawl
    index runs between absorb-forever and retrain (DedupIndex.compact
    docstring) — running it on the live loop instead of a maintenance
    window is exactly what the fold's probe-equality contract buys.
    ``sf_dir`` unused — the transport IS the source."""
    from ..operators import dedup as dedup_ops

    stream = _gate_source(
        spark, rows_per_batch=_ST31_RPB, max_rows=_ST31_N,
        replay_every=_ST31_REPLAY_EVERY, replay_offset=_ST31_REPLAY_OFF,
    )
    empty = _local_df(spark, [], "doc_id string, text string")
    state = {"idx": dedup_ops.DedupIndex.build(empty, "exact")}
    results: dict[int, list] = {}
    trace: list[str] = []

    def probe_absorb_compact(batch: DataFrame, epoch_id: int) -> None:
        if epoch_id in results:
            # idempotent replay guard (st31): a retried epoch must not
            # re-probe an already-absorbed batch
            return
        if batch.isEmpty():
            # a trailing empty micro-batch must not advance the
            # compaction cadence or the trace
            return
        docs = batch.select(
            F.col("vote_id").alias("doc_id"),
            F.col("vote_id").alias("text"),
        )
        idx = state["idx"]
        st = idx.probe(docs)
        rows = st.collect()  # epoch-sized sink handoff (st21 precedent)
        results[epoch_id] = rows
        statuses = _local_df(spark, rows, st.schema)
        idx = idx.absorb(docs, statuses)
        if len(results) % _ST35_COMPACT_EVERY == 0:
            # cut the lineage at each fold: without it every later
            # probe re-executes the whole absorb/compact chain built
            # since epoch 0 (per-epoch cost grew with history; the
            # checkpoint pins the folded rows — tiny here — so each
            # epoch pays only its own batch)
            idx = idx.compact().checkpointed()
        state["idx"] = idx
        trace.append(str(idx.generation))

    _run_gate(
        spark, "st35_pyds_parity",
        lambda ck: stream.writeStream.foreachBatch(probe_absorb_compact)
        .option("checkpointLocation", ck).trigger(**_NOW).start(),
        lambda: sum(len(v) for v in list(results.values())) >= _ST31_N,
    )
    final = state["idx"].compact()
    if final.generation != 0:
        raise AssertionError("post-shutdown compact must reset the cursor")
    stats = final.stats().collect()
    n_gens = len({r["generation"] for r in stats})
    size = sum(
        r["n_rows"] for r in stats if r["artifact"] == "fingerprints"
    )
    return _verdict_counts(spark, results).select(
        "*",
        F.lit(",".join(trace)).alias("gen_trace"),
        F.lit(n_gens).cast("long").alias("final_generations"),
        F.lit(size).cast("long").alias("index_size"),
    )
