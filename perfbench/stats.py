"""Pure helpers behind the reported figures: medians, the trend
self-check and the reference archive size. No Spark here, so the
self-test runs without a session."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def drift(values) -> float:
    """How far the pass time moves across the run: the Theil-Sen slope
    (median of the pairwise slopes) times (n-1), as a share of the median
    pass time. Robust to single outlier passes, and defined from two
    passes on."""
    n = len(values)
    if n < 2:
        return 0.0
    slopes = [(values[j] - values[i]) / (j - i) for i in range(n) for j in range(i + 1, n)]
    return statistics.median(slopes) * (n - 1) / statistics.median(values)


def is_steady(values, max_drift: float = 0.10) -> bool:
    """Unsteady when the passes still trend: the fitted line moves the
    pass time by more than ``max_drift`` of the median across the run."""
    return abs(drift(values)) <= max_drift


def ddp_bytes(records: int, payload_bytes: int) -> int:
    """Size of the reference ``.ddp`` archive: a 5-byte header plus, per
    record, a 9-byte record header and its payload (none for a
    fingerprint record)."""
    return 5 + 9 * records + payload_bytes
