"""Pure helpers: percentiles with the sample-count rule, and the
open-loop freshness join. No Spark, no I/O."""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def reportable_tail(n: int) -> float | None:
    """Highest tail percentile with at least ``MIN_BEYOND`` samples
    beyond it, or None when ``n`` is too small for any of them."""
    for q in TAIL_PERCENTILES:
        # in thousandths, so 100 samples qualify p90 exactly
        if n * (1000 - round(q * 10)) >= MIN_BEYOND * 1000:
            return q
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count, and the highest tail percentile the sample
    count supports (``tail_q`` None when none qualifies)."""
    out = {"n": len(values), "p50": median(values) if values else None}
    q = reportable_tail(len(values))
    out["tail_q"] = q
    out["tail"] = percentile(values, q) if q is not None else None
    return out


def freshness(chunks: list[dict], lineage: list[dict]) -> list[float | None]:
    """Per-chunk freshness in seconds: the ``committed_at_ms`` of the
    first lineage entry (in commit order) whose ``[lsn_min, lsn_max]``
    covers the chunk's ``last_lsn``, minus the chunk's ``due_ms``.
    None for a chunk no entry covers (never published or applied)."""
    entries = sorted(
        (e for e in lineage if e.get("lsn_max") is not None),
        key=lambda e: (e["committed_at_ms"], e.get("snapshot_version") or 0),
    )
    out: list[float | None] = []
    for c in chunks:
        last = c["last_lsn"]
        hit = next(
            (
                e
                for e in entries
                if (e.get("lsn_min") is None or e["lsn_min"] <= last)
                and last <= e["lsn_max"]
            ),
            None,
        )
        out.append(
            None if hit is None else (hit["committed_at_ms"] - c["due_ms"]) / 1e3
        )
    return out


def miss_ratio(fresh: list[float | None], limit_s: float) -> float:
    """Share of chunks over ``limit_s``; never-applied chunks miss."""
    if not fresh:
        return 0.0
    return sum(1 for f in fresh if f is None or f > limit_s) / len(fresh)
