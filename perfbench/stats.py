"""Pure helpers for the benchmark: percentiles, latency attribution,
lateness, backlog sampling, the output comparisons and the CPU
sentinel.  Nothing here touches Spark, so the benchmark's tests run
these without a session."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import numbers
import statistics
import time
from collections.abc import Iterable, Mapping, Sequence


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def tail_percentile(
    values: Iterable[float], min_beyond: int = 10
) -> tuple[float, float, int] | None:
    """The highest percentile that still has ``min_beyond`` samples
    above it: ``(value, percentile, n)``, or ``None`` when fewer than
    ``min_beyond + 1`` samples exist.

    The value is the order statistic with exactly ``min_beyond`` larger
    samples; its percentile is the share of samples at or below it."""
    xs = sorted(values)
    n = len(xs)
    if n <= min_beyond:
        return None
    k = n - min_beyond
    return xs[k - 1], round(100.0 * k / n, 2), n


def lateness(due: Mapping[str, float], dropped: Mapping[str, float]) -> list[float]:
    """Seconds each input landed after its scheduled due time."""
    return [dropped[name] - due[name] for name in due]


def attribute_latency(
    due: Mapping[str, float],
    batch_files: Mapping[int, Iterable[str]],
    batch_commit: Mapping[int, float],
) -> dict[str, float]:
    """Latency of each input file: the return time of the sink write
    that committed the batch holding it, minus the file's due time.

    ``batch_files`` maps a batch id to the file names the source read
    in it; ``batch_commit`` maps a batch id to its sink-return time.
    Raises ``ValueError`` when a due file was read twice or never
    committed, since either breaks the one-result-per-input premise."""
    committed: dict[str, float] = {}
    for batch_id, names in batch_files.items():
        for name in names:
            if name not in due:
                continue
            if name in committed:
                raise ValueError(f"{name} read by two batches")
            if batch_id not in batch_commit:
                raise ValueError(f"batch {batch_id} read {name} but never committed")
            committed[name] = batch_commit[batch_id]
    missing = sorted(set(due) - set(committed))
    if missing:
        raise ValueError(f"{len(missing)} files never committed, first {missing[0]}")
    return {name: committed[name] - due[name] for name in due}


def backlog_at(
    t: float, dropped: Mapping[str, float], committed: Mapping[str, float]
) -> int:
    """Files present at time ``t`` whose batch had not committed yet."""
    return sum(
        1 for name, d in dropped.items() if d <= t < committed.get(name, float("inf"))
    )


def daily_mismatches(
    actual: Mapping[tuple[str, str], float],
    expected: Mapping[tuple[str, str], float],
    rel_tol: float = 1e-9,
    abs_tol: float = 1e-6,
) -> list[str]:
    """Differences between two (customer, date) -> total maps.

    Totals are sums of 2-dp doubles taken in different orders, so they
    agree to rounding, not bit for bit."""
    out = []
    for key in sorted(set(actual) | set(expected)):
        a, e = actual.get(key), expected.get(key)
        if a is None or e is None:
            out.append(f"{key}: actual={a} expected={e}")
        elif abs(a - e) > max(abs_tol, rel_tol * abs(e)):
            out.append(f"{key}: actual={a!r} expected={e!r}")
    return out


def set_mismatches(actual: set, expected: set, limit: int = 5) -> list[str]:
    """Ids missing from ``actual`` and ids it should not hold."""
    out = []
    missing, extra = sorted(expected - actual), sorted(actual - expected)
    if missing:
        out.append(f"{len(missing)} expected ids missing, first {missing[:limit]}")
    if extra:
        out.append(f"{len(extra)} unexpected ids, first {extra[:limit]}")
    return out


def canonical(v) -> str:
    """One cell as text: numbers to 6 decimals, times naive ISO, nulls
    and NaN alike, so Spark's and DuckDB's results compare equal."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        return "NULL" if math.isnan(v) else f"{float(v):.6f}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    return str(v)


def row_mismatches(
    columns: Sequence[str],
    rows: Iterable[Sequence],
    expected_columns: Sequence[str],
    expected_rows: Iterable[Sequence],
    limit: int = 5,
) -> list[str]:
    """Differences between two results compared as bags of canonical
    rows, columns matched by name."""
    if sorted(columns) != sorted(expected_columns):
        return [f"columns {sorted(columns)} != {sorted(expected_columns)}"]

    def bag(cols, rs):
        order = [list(cols).index(c) for c in sorted(cols)]
        return sorted(tuple(canonical(r[i]) for i in order) for r in rs)

    a, e = bag(columns, rows), bag(expected_columns, expected_rows)
    if len(a) != len(e):
        return [f"{len(a)} rows, expected {len(e)}"]
    diff = [(x, y) for x, y in zip(a, e) if x != y]
    return [f"row {x} != expected {y}" for x, y in diff[:limit]]


def cpu_sentinel(rounds: int = 150_000) -> float:
    """Seconds for a fixed pure-Python hashing loop.  Timed before and
    after a run: a slower closing reading means something else took the
    CPU while the run measured."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def contention_label(before: float, after: float, max_ratio: float = 1.3) -> str:
    """``clean`` when the two sentinel readings agree within
    ``max_ratio``, else ``contended``."""
    ratio = max(before, after) / min(before, after)
    return "clean" if ratio <= max_ratio else "contended"
