"""Order statistics for the benchmark's latency samples."""

from __future__ import annotations

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile of ``values`` that has at least
    ``TAIL_BEYOND`` samples above it, as ``(value, percentile, n)``.

    With ``n`` sorted samples this is the ``(TAIL_BEYOND + 1)``-th largest;
    its percentile is the share of samples at or below its rank. Fewer than
    ``TAIL_BEYOND + 1`` samples support no tail, and the call raises."""
    n = len(values)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples cannot support a tail with {TAIL_BEYOND} beyond it")
    rank = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return sorted(values)[rank - 1], 100.0 * rank / n, n
