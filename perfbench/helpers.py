"""Pure helpers of the benchmark: statistics, the emission-to-file mapping,
open-loop lateness, rig readings and result comparison.

Nothing here imports Spark, so the unit tests in ``test_helpers.py`` run
without a JVM.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import os
import statistics

# A percentile is only reported when at least this many samples lie beyond
# it; below that, one slow sample decides the figure.
MIN_TAIL_SAMPLES = 10


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def percentile(values: list[float], q: float) -> float | None:
    """The ``q`` quantile (0 < q < 1) of ``values``, or None when fewer than
    ``MIN_TAIL_SAMPLES`` samples lie beyond it.

    Nearest-rank on the sorted samples: the value at rank ceil(q * n).
    """
    if not 0 < q < 1:
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    n = len(values)
    rank = math.ceil(q * n)
    if n - rank < MIN_TAIL_SAMPLES:
        return None
    return sorted(values)[rank - 1]


def first_covering(
    emissions: list[tuple[float, int]], cumulative: list[int]
) -> list[float | None]:
    """For each published file, the time of the first emission whose
    cumulative total covers it.

    ``emissions`` are ``(time, total)`` in emission order, where ``total`` is
    the summed count over all keys after that emission. ``cumulative[i]`` is
    the number of unique events in files ``0..i``. The sink only ever sees a
    prefix of the published files, so file ``i`` is covered once a total
    reaches ``cumulative[i]``. Files never covered get None.
    """
    out: list[float | None] = []
    k = 0
    for need in cumulative:
        while k < len(emissions) and emissions[k][1] < need:
            k += 1
        out.append(emissions[k][0] if k < len(emissions) else None)
    return out


def lateness(due: list[float], actual: list[float]) -> dict[str, float]:
    """How late an open-loop generator ran: per event, actual minus due
    time, clamped at zero (early is on time). Returns ms statistics."""
    if len(due) != len(actual):
        raise ValueError("due and actual must pair up")
    late = [max(0.0, a - d) * 1000.0 for d, a in zip(due, actual)]
    if not late:
        return {"late_ms_p50": 0.0, "late_ms_max": 0.0, "n": 0}
    return {
        "late_ms_p50": statistics.median(late),
        "late_ms_max": max(late),
        "n": len(late),
    }


def due_times(start: float, period: float, until: float) -> list[float]:
    """Open-loop schedule: ``start + k * period`` for every slot before
    ``until``."""
    if period <= 0:
        raise ValueError("period must be positive")
    n = max(0, math.ceil((until - start) / period))
    return [start + k * period for k in range(n)]


# -- rig --------------------------------------------------------------------


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def load1() -> float:
    return os.getloadavg()[0]


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies), or [] when the
    file is absent."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two /proc/stat
    readings (steal is the 8th field)."""
    if len(before) < 8 or len(after) < 8:
        return 0.0
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total > 0 else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_usage(root: str) -> tuple[int, int]:
    """(top-level dirs, total bytes) under ``root``; (0, 0) if absent."""
    if not os.path.isdir(root):
        return 0, 0
    dirs = sum(1 for e in os.scandir(root) if e.is_dir())
    size = 0
    for base, _, files in os.walk(root):
        for name in files:
            try:
                size += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass  # removed while walking
    return dirs, size


# -- result comparison ------------------------------------------------------


def _norm_value(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return repr(v)


def normalize_rows(columns: list[str], rows) -> list[tuple]:
    """Rows with columns sorted by name, numbers as floats (exact for the
    counts and the bitwise-matched doubles the plans produce) and
    timestamps as ISO text, in a deterministic order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _two_decimals(x: float) -> bool:
    return abs(x * 100 - round(x * 100)) < 1e-6


def same_value(a, b) -> bool:
    """Exact equality, except that two values rounded to two decimals may
    differ by 0.01: at an exact half (8099 of 20000 is 40.495 %) Spark's
    ``round`` rounds the decimal text up to 40.5 and DuckDB rounds the
    binary double down to 40.49."""
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return (
            _two_decimals(a) and _two_decimals(b) and abs(a - b) < 0.0100001
        )
    return False


def same_rows(
    cols_a: list[str], rows_a, cols_b: list[str], rows_b
) -> bool:
    """Whether two results hold the same rows, in any row or column order."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    unmatched = normalize_rows(cols_b, rows_b)
    for row in normalize_rows(cols_a, rows_a):
        for k, other in enumerate(unmatched):
            if all(same_value(x, y) for x, y in zip(row, other)):
                del unmatched[k]
                break
        else:
            return False
    return True
