"""Constraint semantics as operators (SURVEY §1.4).

The reference enforces integrity in the database: PKs, UNIQUE(voter_id),
UNIQUE(registration_number), FKs vote→voter / vote→candidate
(setup_database.py:98-106) with rollback-on-violation
(data_generator.py:255-258). A lakehouse engine has no runtime constraints,
so the same guarantees become explicit, composable operators:

- key dedup at ingest  (PK semantics)        → ``dedup_on_key``
- duplicate audit      (UNIQUE verification) → ``unique_violations``
- orphan audit / purge (FK verification)     → ``fk_violations`` /
  ``enforce_fk`` (anti / semi join — the §2.3 "idiomatic extra")

Scale: all are single-shuffle (groupBy key or shuffle-join on key); the
dimension side of FK checks broadcasts when small.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_on_key(
    df: DataFrame, keys: Sequence[str], order_by: str | None = None
) -> DataFrame:
    """One row per key — PK ingest semantics. With ``order_by`` the
    EARLIEST row by that column wins deterministically (the DB's
    first-insert-wins, data_generator.py:255-258); without it Spark's
    dropDuplicates keeps an arbitrary row (cheaper: partial-agg dedup,
    no sort)."""
    if order_by is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(F.col(order_by).asc_nulls_last())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def unique_violations(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(keys..., n_rows) for every key appearing more than once — the audit
    twin of a UNIQUE constraint."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def fk_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact rows whose key has no match in the dimension (orphans) —
    LEFT ANTI join, the audit twin of a FOREIGN KEY."""
    dk = dim_key or fact_key
    d = dim.select(F.col(dk).alias(fact_key)).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    return fact.join(d, fact_key, "left_anti")


def enforce_fk(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact restricted to rows with a dimension match — LEFT SEMI join
    (what the reference's INSERT would have rejected, applied post-hoc)."""
    dk = dim_key or fact_key
    d = dim.select(F.col(dk).alias(fact_key)).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    return fact.join(d, fact_key, "left_semi")


def profile(
    df: DataFrame,
    stat_cols: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
) -> DataFrame:
    """One-row data-quality profile — the ANALYZE/summary pass every
    ingest runs before trusting a table: total rows, per-column null
    counts, min/max for ``stat_cols``, exact distinct counts for
    ``distinct_cols`` (low-cardinality columns; use
    approx_count_distinct for the 100 TB unbounded ones).

    Scale: ONE aggregate over one scan — partial aggregation computes
    every metric map-side, so wire volume is a single row per task
    regardless of table size. No per-column passes, no driver loops.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}_nulls"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
        ]
    for c in distinct_cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}_nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}_distinct"),
        ]
    return df.agg(*aggs)


def apply_changefeed(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """MERGE-apply a CDC changefeed to a snapshot: one pass of
    ``MERGE INTO snapshot USING latest-change-per-key`` semantics without
    a transactional table format — the batch-apply the reference's
    transactional INSERTs (data_generator.py:255-258) become when the
    database is a lakehouse table.

    ``changes`` carries ``keys``, ``seq_col`` (a totally-ordering change
    sequence — LSN/offset; pass ``tiebreak_cols`` if it can collide),
    ``op_col`` ∈ {'I','U','D'}, and any subset of the snapshot's value
    columns. Per key, ONLY the latest change applies (earlier ones are
    superseded — standard changelog compaction): 'D' deletes the row;
    'I' and 'U' are treated IDENTICALLY as upserts — an 'I' whose key
    still has a live snapshot row does NOT replace the row wholesale
    but inherits old values for NULL payload columns, exactly like a
    'U' (coalesce-merge partial-update convention). Columns absent from
    ``changes`` entirely also inherit. Consequences: neither op can set
    a column TO NULL (emit a sentinel and post-filter if needed), and a
    feed whose 'I' means "replace verbatim" must send a 'D' with a
    lower ``seq`` first or materialize every column in the 'I' payload.

    Scale: one keyed window over the changefeed (compaction) + ONE
    full-outer join on the key — both shuffle on the same uniform key,
    no skew funnel, nothing driver-side. At 100 TB the snapshot side is
    the big one and arrives hash-partitioned by key from the previous
    apply, so AQE reuses its layout; the changefeed side is |batch|.
    The streaming twin (streaming/jobs.start_latest_state over the
    feed) folds this per micro-batch with tombstone retention.
    """
    from .temporal import latest_by_key

    latest = latest_by_key(
        changes, list(keys), seq_col, tiebreak_cols=list(tiebreak_cols)
    )
    val_cols = [c for c in snapshot.columns if c not in keys]
    present = set(latest.columns)
    j = snapshot.alias("s").join(latest.alias("c"), list(keys), "full_outer")
    live = j.filter(
        F.col(f"c.{op_col}").isNull() | (F.col(f"c.{op_col}") != "D")
    )
    picks = [
        (
            F.coalesce(F.col(f"c.{c}"), F.col(f"s.{c}"))
            if c in present
            else F.col(f"s.{c}")
        ).alias(c)
        for c in val_cols
    ]
    return live.select(*[F.col(k) for k in keys], *picks)


def table_diff(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Keyed reconciliation summary between two table versions — the
    did-the-migration/backfill-preserve-the-data check, as a bounded
    report instead of a row dump: one row per diff class
    (``only_a`` / ``only_b`` / ``changed`` / ``equal``) plus one
    ``mismatch:<col>`` row per compared column (a changed row counts
    once per differing column there, so the report localizes WHICH
    column drifted). Null-safe comparison via <=> (two NULLs are equal,
    NULL vs value is a change). Contract: ``keys`` must be unique in
    each side (a reconciliation between keyed table versions) — a
    duplicated key fans out in the full-outer join and inflates every
    class count; run unique_violations first if uniqueness is in doubt.

    Scale: ONE full-outer join on the key and one tiny aggregate —
    |keys| rows shuffle once per side; the report is O(#classes +
    #columns) rows regardless of table size. At 100 TB both sides
    arrive hash-partitioned by key from their writers and AQE reuses
    the layout.
    """
    # presence is judged on an indicator column, never on data columns
    # (which may be legitimately NULL for present rows)
    asel = a.select(
        *keys, *compare_cols, F.lit(1).alias("__a_present")
    ).alias("a")
    bsel = b.select(
        *keys, *compare_cols, F.lit(1).alias("__b_present")
    ).alias("b")
    j = asel.join(bsel, list(keys), "full_outer")
    in_a = F.col("a.__a_present").isNotNull()
    in_b = F.col("b.__b_present").isNotNull()
    neq = [
        ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in compare_cols
    ]
    any_neq = F.lit(False)
    for e in neq:
        any_neq = any_neq | e
    cls = (
        F.when(in_a & ~in_b, F.lit("only_a"))
        .when(~in_a & in_b, F.lit("only_b"))
        .when(any_neq, F.lit("changed"))
        .otherwise(F.lit("equal"))
    )
    both = in_a & in_b
    aggs = [
        F.sum(F.when(cls == t, 1).otherwise(0)).cast("long").alias(t)
        for t in ("only_a", "only_b", "changed", "equal")
    ] + [
        F.sum(F.when(both & e, 1).otherwise(0)).cast("long")
        .alias(f"mismatch:{c}")
        for c, e in zip(compare_cols, neq)
    ]
    wide = j.agg(*aggs)
    # unpivot the one-row summary to (diff_type, n_rows) — stable shape
    # no matter how many compare columns
    names = [f.name for f in wide.schema.fields]
    pairs = F.array(
        *[
            F.struct(
                F.lit(n).alias("diff_type"), F.col(f"`{n}`").alias("n_rows")
            )
            for n in names
        ]
    )
    return (
        wide.select(F.explode(pairs).alias("p"))
        .select("p.diff_type", "p.n_rows")
    )
