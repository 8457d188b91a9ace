"""Parametrized relational shapes (SURVEY.md §2, §7.0).

The reference's 10 queries decompose into ~10 reusable shapes; each function
here is one shape, usable on both the voting schema (plans/voting.py) and the
driver testdata (plans/parity.py). All shapes are pure DataFrame→DataFrame:
Catalyst sees one logical plan per query, so pushdown/pruning/broadcast come
for free (SURVEY.md §4).

Scale notes are inline per shape — every groupBy/join/window is annotated
with its shuffle behavior at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import nullif_zero, pct_of

# ---------------------------------------------------------------------------
# Time-bucketed counts + LAG delta     (Q1 app.py:67-81, Q2 CTE :86-105; W1)
# ---------------------------------------------------------------------------


def time_bucketed_counts(
    df: DataFrame,
    ts_col: str,
    grain: str = "hour",
    group_cols: Sequence[str] = (),
    bucket_name: str = "bucket",
    count_name: str = "cnt",
) -> DataFrame:
    """COUNT(*) per date_trunc(grain, ts) [× group_cols] (A12/A1).

    Scale: single hash-aggregate shuffle on (bucket, *group_cols); partial
    aggregation map-side means shuffle volume = #distinct buckets per task,
    not #rows. Grain keeps bucket cardinality bounded (hours over years
    ≈ 10^4-10^5 groups) — safe at 100 TB.
    """
    keys = [F.date_trunc(grain, F.col(ts_col)).alias(bucket_name)] + [
        F.col(c) for c in group_cols
    ]
    return df.groupBy(*keys).agg(F.count("*").alias(count_name))


def with_lag_delta(
    df: DataFrame,
    order_col: str,
    value_col: str,
    partition_cols: Sequence[str] = (),
    delta_name: str = "delta",
) -> DataFrame:
    """value - LAG(value) over ordered (optionally partitioned) rows (W1:
    Q1 app.py:72, Q2 :98-101). Leading row yields NULL, as in the reference.

    Scale: the window runs over the *aggregated* frame (tiny); with no
    partition cols Spark warns about single-partition windows — acceptable
    because input is post-aggregation (bounded), never raw events.
    """
    w = Window.orderBy(order_col)
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(order_col)
    return df.withColumn(delta_name, F.col(value_col) - F.lag(value_col, 1).over(w))


# ---------------------------------------------------------------------------
# Ranked share: count + pct-of-total + rank   (Q2 app.py:83-124; A8/A9/W2/W5)
# ---------------------------------------------------------------------------


def ranked_share(
    df: DataFrame,
    group_cols: Sequence[str],
    count_name: str = "cnt",
    pct_name: str = "percentage",
    rank_name: str = "rank",
) -> DataFrame:
    """groupBy count → pct-of-total via whole-table window (W5) → row_number
    by count desc (W2). The reference computes the total as a scalar subquery
    (app.py:111, J7); the window form is one job instead of two.

    Determinism: row_number ties broken by group_cols so output is stable.
    Scale: one shuffle for the aggregate; the window is over #groups rows
    (bounded by group-key cardinality), evaluated single-partition — fine for
    dashboard-cardinality groups, see `ranked_share_scalable` for high-card.
    """
    agg = df.groupBy(*group_cols).agg(F.count("*").alias(count_name))
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(
        F.desc(count_name), *[F.col(c) for c in group_cols]
    )
    return (
        agg.withColumn(pct_name, pct_of(F.col(count_name), F.sum(count_name).over(w_all)))
        .withColumn(rank_name, F.row_number().over(w_rank).cast("long"))
    )


def ranked_share_scalable(
    df: DataFrame,
    group_cols: Sequence[str],
    count_name: str = "cnt",
    pct_name: str = "percentage",
    rank_name: str = "rank",
    rank_partitions: int | None = None,
) -> DataFrame:
    """``ranked_share`` for HIGH-CARDINALITY group keys — bit-equal output
    (asserted in tests/test_plans.py), scale-safe plan:

    - pct-of-total: the total comes from a second tiny aggregate
      cross-joined as a broadcast scalar — no whole-table window, which
      would funnel every group through ONE window partition;
    - rank: range-partitioned sort on (count desc, group_cols) + per-range
      row_number + broadcast cumulative partition offsets — the DataFrame
      form of zipWithIndex. The ordering key is a strict total order
      (group_cols break count ties), so each row's global rank is
      independent of where the range boundaries fall; __pid is stable
      under task retry because range assignment is content-based once the
      driver fixes the boundaries (unlike round-robin/monotonic ids —
      operators/skew.py carries the same determinism rule).

    Shuffles: aggregate, range exchange (reused by both the offset count
    and the rank window via ReuseExchange), offsets aggregate (#partitions
    rows). Window state is one range partition, never the whole table.
    """
    agg = df.groupBy(*group_cols).agg(F.count("*").alias(count_name))
    total = agg.groupBy().agg(F.sum(count_name).alias("__total"))
    with_pct = (
        agg.crossJoin(F.broadcast(total))
        .withColumn(pct_name, pct_of(F.col(count_name), F.col("__total")))
        .drop("__total")
    )
    p = rank_partitions or df.sparkSession.sparkContext.defaultParallelism
    order = [F.desc(count_name)] + [F.col(c) for c in group_cols]
    # localCheckpoint: BOTH consumers (offset counts, rank window) must
    # see the SAME range boundaries — re-executing the exchange would
    # resample boundaries independently and misalign offsets with __pid.
    # ReuseExchange usually unifies them, but that is an optimizer
    # courtesy, not a contract; materializing makes it one. The
    # checkpointed data is the post-aggregate group table, not raw rows.
    ranged = (
        with_pct.repartitionByRange(p, *order)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.count("*").alias("__psize"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__psize").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("__psize")
    )
    w = Window.partitionBy("__pid").orderBy(*order)
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(
            rank_name,
            (F.row_number().over(w) + F.col("__offset")).cast("long"),
        )
        .select(*group_cols, count_name, pct_name, rank_name)
    )


# ---------------------------------------------------------------------------
# Cumulative trend            (Q3 app.py:126-151; W4 explicit ROWS frame)
# ---------------------------------------------------------------------------


def cumulative_bucketed(
    df: DataFrame,
    partition_col: str,
    ts_col: str,
    grain: str = "minute",
    bucket_name: str = "bucket",
    cum_name: str = "cumulative",
) -> DataFrame:
    """Q3's actual output: per-bucket MAX of the running count ≡ cumulative
    sum of per-bucket counts (app.py:143-150). Implemented aggregate-first:
    groupBy(bucket) THEN running sum over buckets — the window input is
    #buckets rows, not #events. Same result, 10^6× less window state at scale.
    """
    per_bucket = time_bucketed_counts(
        df, ts_col, grain, [partition_col], bucket_name, "cnt"
    )
    w = (
        Window.partitionBy(partition_col)
        .orderBy(bucket_name)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_bucket.withColumn(cum_name, F.sum("cnt").over(w)).drop("cnt")


# ---------------------------------------------------------------------------
# Top-1 per group via RANK       (Q4b app.py:166-184; W3 + P3, ties kept)
# ---------------------------------------------------------------------------


def top1_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    group_cols: Sequence[str],
    metric: Column | None = None,
    metric_name: str = "cnt",
    rank_name: str = "rank",
) -> DataFrame:
    """RANK() per partition ordered by aggregated metric desc, keep rank=1.
    RANK (not row_number) preserves ties exactly as the reference does
    (app.py:172: two tied parties in a state both surface).

    Scale: aggregate shuffle on (partition × group), then window over the
    aggregate (bounded). No raw-row window.
    """
    m = metric if metric is not None else F.count("*")
    agg = df.groupBy(*partition_cols, *group_cols).agg(m.alias(metric_name))
    w = Window.partitionBy(*partition_cols).orderBy(F.desc(metric_name))
    return (
        agg.withColumn(rank_name, F.rank().over(w).cast("long"))
        .filter(F.col(rank_name) == 1)
    )


def first_k_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column | str],
    k: int,
    rank_name: str = "rn",
) -> DataFrame:
    """Keep the first ``k`` rows per group under a TOTAL order — the
    row_number cap behind per-domain quotas, rate limiting, and top-k
    truncation. Callers must make ``order_cols`` a total order (append a
    unique tiebreak column) or the kept set is engine/partition-dependent.

    Scale: one shuffle on the group key; the per-group sort touches only
    that group's rows and the filter drops everything past k before any
    further stage. Skewed groups cost their own size — at 100 TB cap hot
    groups upstream (they are exactly the rows this operator exists to
    trim).
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(rank_name, F.row_number().over(w).cast("long")).filter(
        F.col(rank_name) <= k
    )


# ---------------------------------------------------------------------------
# Distinct string aggregation        (Q4a app.py:155-164; A5, sorted for
# determinism — Postgres string_agg order is arbitrary, SURVEY §4 caveat a)
# ---------------------------------------------------------------------------


def sorted_distinct_concat(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_name: str = "agg_values",
    sep: str = ", ",
    count_name: str = "cnt",
) -> DataFrame:
    """concat_ws(sep, sort_array(collect_set(value))) + COUNT(*) per group.

    Scale: collect_set is bounded by the value domain (parties/brands —
    dimension-sized); partial aggregation dedups map-side.
    """
    return df.groupBy(*group_cols).agg(
        F.concat_ws(sep, F.sort_array(F.collect_set(value_col))).alias(out_name),
        F.count("*").alias(count_name),
    )


# ---------------------------------------------------------------------------
# Pct by category (scalar-subquery form)      (Q5a app.py:190-198; A9/J7)
# ---------------------------------------------------------------------------


def pct_by_category(
    df: DataFrame,
    group_cols: Sequence[str],
    count_name: str = "cnt",
    pct_name: str = "percentage",
) -> DataFrame:
    """COUNT + share-of-total per category. Window form of the reference's
    `(SELECT COUNT(*) FROM voter)` scalar subquery — Catalyst would execute
    the subquery as a separate job; the window reuses the aggregate."""
    agg = df.groupBy(*group_cols).agg(F.count("*").alias(count_name))
    total = F.sum(count_name).over(Window.partitionBy())
    return agg.withColumn(pct_name, pct_of(F.col(count_name), total))


# ---------------------------------------------------------------------------
# CASE-bucketed pct           (Q5b app.py:200-220; P5/A7/A8/F6)
# ---------------------------------------------------------------------------


def bucketed_pct(
    df: DataFrame,
    bucket_expr: Column,
    bucket_name: str = "bucket",
    count_name: str = "cnt",
    pct_name: str = "percentage",
) -> DataFrame:
    """GROUP BY CASE-expression with window-total percentage (A7+A8)."""
    agg = df.groupBy(bucket_expr.alias(bucket_name)).agg(
        F.count("*").alias(count_name)
    )
    total = F.sum(count_name).over(Window.partitionBy())
    return agg.withColumn(pct_name, pct_of(F.col(count_name), total))


# ---------------------------------------------------------------------------
# LEFT JOIN keeping empty groups + NULLIF pct    (G1 data_generator.py:204-215)
# ---------------------------------------------------------------------------


def left_count_with_share(
    dim: DataFrame,
    fact: DataFrame,
    key: str,
    dim_cols: Sequence[str],
    count_name: str = "cnt",
    pct_name: str = "percentage",
    broadcast_counts: bool = True,
) -> DataFrame:
    """dim LEFT JOIN fact → per-dim-row fact count (zero-kept) + share of
    total guarded by NULLIF(total,0) (J4 + A8 + F5).

    Scale: counting the fact FIRST shrinks the join's left side from #fact
    rows to #distinct keys. For a dimension-sized key domain (G1's 3
    candidates) the aggregate is broadcast; for high-cardinality keys pass
    broadcast_counts=False and let AQE pick shuffle vs broadcast.
    """
    counts = fact.groupBy(key).agg(F.count("*").alias(count_name))
    if broadcast_counts:
        counts = F.broadcast(counts)
    joined = (
        dim.select(key, *dim_cols)
        .join(counts, key, "left")
        .na.fill(0, [count_name])
    )
    total = F.sum(count_name).over(Window.partitionBy())
    return joined.withColumn(
        pct_name, pct_of(F.col(count_name), nullif_zero(total))
    )


# ---------------------------------------------------------------------------
# Ordered event funnel (beyond-reference; the events-table analytics shape)
# ---------------------------------------------------------------------------


def funnel_counts(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(stage, stage_idx, users) — ordered-funnel conversion counts: a
    user reaches stage k when their FIRST qualifying stage-k event is
    strictly after the time they reached stage k−1 (min-ts semantics, so
    repeat events don't double-count and out-of-order events don't
    convert).

    Scale: per stage, one type-filtered scan + an equi-join on user with
    the previous stage's (user, ts) frontier + a min-aggregate — all
    keyed shuffles on user_id; no window over raw events, no
    per-user sort. The frontier is ≤ #users rows. Stages are few by
    contract (funnels are 3-6 steps); each stage's plan re-derives the
    previous frontier lazily, which Catalyst shares where it can —
    cache the input when running many stages over a huge scan.
    """
    prev = None
    per_stage = []
    for i, stage in enumerate(stages):
        ev = df.filter(F.col(type_col) == stage).select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("t")
        )
        if prev is None:
            cur = ev.groupBy("u").agg(F.min("t").alias("t"))
        else:
            cur = (
                ev.join(prev.select("u", F.col("t").alias("pt")), "u")
                .filter(F.col("t") > F.col("pt"))
                .groupBy("u")
                .agg(F.min("t").alias("t"))
            )
        prev = cur
        per_stage.append(
            cur.agg(F.count("*").alias("users")).select(
                F.lit(stage).alias("stage"),
                F.lit(i + 1).cast("long").alias("stage_idx"),
                F.col("users"),
            )
        )
    out = per_stage[0]
    for s in per_stage[1:]:
        out = out.unionByName(s)
    return out


def global_prefix_sum(
    df: DataFrame,
    order: Sequence[Column],
    value_col: str,
    out: str = "cum",
    partitions: int | None = None,
) -> DataFrame:
    """Exact running SUM(``value_col``) over a GLOBAL total order without
    a single-partition window — the prefix-sum sibling of
    ranked_share_scalable's global rank:

    range exchange on the order key → per-range running-sum window →
    broadcast cumulative partition offsets (the offsets aggregate is
    #partitions rows). ``order`` must be a strict total order (add a
    unique tiebreak column) and ``value_col`` exact-typed (int/decimal)
    so partial sums merge bit-exactly in any partition layout.

    localCheckpoint freezes the range boundaries so the offsets pass and
    the window pass see the SAME __pid assignment (ReuseExchange is an
    optimizer courtesy, not a contract — same rule as
    ranked_share_scalable). Window state is one range partition; at
    100 TB this is the running-token-budget / watermark-cut plan.
    """
    p = partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(p, *order)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.sum(value_col).alias("__psum"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__psum").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0).cast("long"),
            ),
        )
        .drop("__psum")
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out, (F.sum(value_col).over(w) + F.col("__offset")).cast("long")
        )
        .drop("__pid", "__offset")
    )


def global_ntile(
    df: DataFrame,
    order: Sequence[Column],
    n_buckets: int,
    out: str = "bucket",
    partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n_buckets) OVER (ORDER BY order)`` WITHOUT the
    single-partition window that a bare global ntile plans (one executor
    sorting every row at 100×) — bit-equal output, scale-safe plan
    (asserted in tests/test_plans.py):

    1. global rank via the ranked_share_scalable machinery — range
       exchange on the order key, per-range row_number, broadcast
       cumulative partition offsets (#partitions rows);
    2. the ntile bucket recomputed from (rank, total) with the engines'
       shared fill rule: q = n // k buckets of size q+1 first, so
       bucket(r) = (r-1) div (q+1) + 1 while r ≤ rem·(q+1), else
       rem + (r - rem·(q+1) - 1) div q + 1. The division runs as
       floor(double) — exact while counts stay below 2^52, i.e. any
       realistic row count.

    ``order`` must be a strict total order (unique tiebreak column) —
    the same precondition the exact ntile twins document so ties can't
    float between buckets cross-engine.
    """
    p = partitions or df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint: offsets, total and the rank window must all see
    # ONE set of range boundaries (same contract as ranked_share_scalable)
    ranged = (
        df.repartitionByRange(p, *order)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.count("*").alias("__psize"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__psize").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("__psize")
    )
    # total rows: a broadcast scalar read from the SAME materialized RDD
    total = ranged.groupBy().agg(F.count("*").alias("__n"))
    w = Window.partitionBy("__pid").orderBy(*order)
    r = F.row_number().over(w) + F.col("__offset")
    ranked = (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn("__rn", r.cast("long"))
        .crossJoin(F.broadcast(total))
    )
    q = F.floor(F.col("__n") / F.lit(n_buckets)).cast("long")
    rem = (F.col("__n") % F.lit(n_buckets)).cast("long")
    big = q + F.lit(1)
    rr = F.col("__rn")
    # greatest(q, 1): identity whenever the otherwise branch is reachable
    # (q >= 1 there), but keeps the expression total under ANSI mode when
    # total rows < n_buckets (q = 0, all rows taken by the when branch).
    bucket = F.when(
        rr <= rem * big, F.floor((rr - 1) / big) + 1
    ).otherwise(
        rem + F.floor((rr - rem * big - 1) / F.greatest(q, F.lit(1))) + 1
    )
    return ranked.withColumn(out, bucket.cast("long")).drop(
        "__pid", "__offset", "__rn", "__n"
    )
