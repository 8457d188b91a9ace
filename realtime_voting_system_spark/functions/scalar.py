"""Scalar function surface (SURVEY.md §2.8, F1-F12) + determinism helpers.

Everything here is built-in ``pyspark.sql.functions`` composition — JVM-side,
whole-stage-codegen-friendly. No Python UDFs.

Cross-engine determinism (the DuckDB oracle hash match, BASELINE.md t2):
- Sums over DOUBLE columns are order-dependent in IEEE arithmetic and Spark's
  partial/final aggregation order is nondeterministic. ``exact_sum`` therefore
  accumulates in DECIMAL (exact, order-independent) and converts the final
  value back to DOUBLE with a single correctly-rounded cast — bit-identical
  in any engine that does the same.
- ``round()`` on DOUBLE is NOT used for hashed outputs: Spark rounds via
  BigDecimal(HALF_UP on the decimal string), C-based engines via
  ``round(x*10^n)/10^n`` — they disagree on ties (e.g. 2.675). Ratios of
  exact integers (count*100.0/total) are emitted unrounded instead: one
  correctly-rounded IEEE division is bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- determinism helpers ---------------------------------------------------


def exact_sum(col: str | Column, scale: int = 2, precision: int = 30) -> Column:
    """Order-independent SUM over a double column: accumulate in DECIMAL,
    emit DOUBLE. Oracle SQL twin: ``CAST(SUM(CAST(x AS DECIMAL(30,2))) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def exact_avg(col: str | Column, scale: int = 2, precision: int = 30) -> Column:
    """Order-independent AVG over a double column: exact decimal sum, then a
    single double division. Oracle twin:
    ``CAST(SUM(CAST(x AS DECIMAL(30,2))) AS DOUBLE) / COUNT(x)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double") / F.count(c)


def pct_of(part: Column, total: Column) -> Column:
    """``part * 100.0 / total`` for exact-integer counts (F7/A8/A9,
    app.py:111,194,209). Bit-stable: ints ≤2^53 are exact doubles and one
    multiply + one divide are correctly rounded."""
    return part * F.lit(100.0) / total


def nullif_zero(c: Column) -> Column:
    """NULLIF(x, 0) — G1's guarded division (data_generator.py:210)."""
    return F.when(c == 0, F.lit(None)).otherwise(c)


# --- reference scalar surface (F1-F12) -------------------------------------


def bucket(col: str | Column, edges: list[float], labels: list[str]) -> Column:
    """F6/P5 — multi-branch CASE bucketing (app.py:202-207). ``edges`` are
    exclusive upper bounds; one extra label is the ELSE branch."""
    assert len(labels) == len(edges) + 1
    c = F.col(col) if isinstance(col, str) else col
    expr = F.when(c < edges[0], labels[0])
    for e, lab in zip(edges[1:], labels[1:-1]):
        expr = expr.when(c < e, lab)
    return expr.otherwise(labels[-1])


def json_get(col: str | Column, path: str) -> Column:
    """JSON-path extraction over the ``events.props`` envelope (F9 analog)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{path}")


def exact_sum_portable(
    col: str | Column, scale: int = 4, precision: int = 38
) -> Column:
    """``exact_sum`` for sums whose UNSCALED decimal value can exceed 2^53
    (e.g. sums of squares): the direct DECIMAL→DOUBLE cast is then
    double-rounded, and Java's BigDecimal path and C++ int128 paths round
    DIFFERENTLY (observed 1-ulp divergence vs DuckDB at unscaled ≈ 7e16).

    Portable form: split into integer part (DECIMAL floor → BIGINT →
    DOUBLE: long-to-double is a single correctly-rounded conversion in
    every IEEE implementation) plus fraction part (a sub-1 decimal with
    ≤``scale`` digits: unscaled ≤ 10^scale converts exactly, one division
    rounds correctly) and add — three correctly-rounded steps that every
    engine performs identically. Oracle twin:
    ``CAST(CAST(FLOOR(S) AS BIGINT) AS DOUBLE) + CAST(S - FLOOR(S) AS
    DOUBLE)`` with ``S = SUM(CAST(x AS DECIMAL(38,4)))``. Valid while the
    integer part fits BIGINT (< 9.2e18 — beyond any sum here) and the
    summand is non-negative-fraction-safe (floor splits negatives fine:
    frac stays in [0,1))."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(c.cast(f"decimal({precision},{scale})"))
    ip = F.floor(s)
    return ip.cast("long").cast("double") + (s - ip).cast("double")
