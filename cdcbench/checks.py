"""Output checks: the engine's answers against the generator's record."""

from __future__ import annotations

import math
from collections import Counter
from decimal import Decimal
from typing import Iterable

from generator import DIM_CHECK_COLUMNS, normalize

# histogram_store defaults (operators/incremental_agg.py)
HIST_LO, HIST_HI, HIST_NB = 0.0, 6_000_000.0, 24


class CheckFailed(Exception):
    """An answer differs from the generator's record."""


def dim_tuples(rows: Iterable) -> list[tuple]:
    """Spark Rows (or dicts) of dimension versions as comparable tuples."""
    return [normalize(r.asDict() if hasattr(r, "asDict") else r) for r in rows]


def compare_rows(actual: Iterable[tuple], expected: Iterable[tuple], what: str) -> None:
    """Multiset equality, so a duplicated row is caught as well as a
    missing or changed one."""
    a, e = Counter(actual), Counter(expected)
    if a == e:
        return
    missing, extra = e - a, a - e
    example = next(iter(missing or extra))
    raise CheckFailed(
        f"{what}: {sum(missing.values())} expected rows missing, "
        f"{sum(extra.values())} unexpected; e.g. {dict(zip(DIM_CHECK_COLUMNS, example))}"
    )


def check_equal(actual, expected, what: str) -> None:
    if actual != expected:
        raise CheckFailed(f"{what}: got {actual!r}, expected {expected!r}")


def check_invariants(counts: dict[str, int]) -> None:
    bad = {k: v for k, v in counts.items() if v}
    if bad:
        raise CheckFailed(f"SCD2 invariants violated: {bad}")


def money(x) -> str:
    return str(Decimal(x).quantize(Decimal("0.01")))


def expected_summary(current: Iterable[dict], customers: set[int]) -> dict[int, tuple]:
    """(n_orders, revenue) per customer over the current slice."""
    out: dict[int, list] = {}
    for v in current:
        c = v["customer_id"]
        if c in customers:
            acc = out.setdefault(c, [0, Decimal(0)])
            acc[0] += 1
            acc[1] += v["total_amount"]
    return {c: (n, money(s)) for c, (n, s) in out.items()}


def _bucket(amount: Decimal) -> int:
    w = (HIST_HI - HIST_LO) / HIST_NB
    raw = math.floor((float(amount) - HIST_LO) / w)
    return min(HIST_NB - 1, max(0, raw))


def expected_quantiles(current: Iterable[dict], customers: set[int], p: float) -> dict[int, float]:
    """histogram_quantile's estimate, recomputed from the current slice
    with the same bucket arithmetic."""
    counts: dict[int, Counter] = {}
    for v in current:
        if v["customer_id"] in customers:
            counts.setdefault(v["customer_id"], Counter())[_bucket(v["total_amount"])] += 1
    w = (HIST_HI - HIST_LO) / HIST_NB
    out = {}
    for c, buckets in counts.items():
        total = sum(buckets.values())
        target = math.ceil(p * total)
        cum = 0
        for b in sorted(buckets):
            n = buckets[b]
            cum += n
            if cum >= target:
                out[c] = HIST_LO + (b + (target - (cum - n)) / n) * w
                break
    return out


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
