"""Order statistics and rates used by the benchmark's metrics."""

from __future__ import annotations

# The tail percentile is fixed once, in the metric name ``op_p90_ms``.
# It is the highest of p99/p95/p90 that leaves at least ten samples
# beyond it on every workload at the configured run length.
TAIL_CANDIDATES = (99.0, 95.0, 90.0)
MIN_BEYOND = 10


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = (len(xs) - 1) * pct / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def mix_percentile(by_kind: dict[str, list[float]], pct: float) -> float:
    """The ``pct`` percentile of each op kind's latencies, averaged with
    weights by how often each kind ran.

    A pooled percentile of a mix sits on the edge between two kinds
    whenever the slower kinds' share is near ``100 - pct`` (UPDATEs are
    10% of ``oltp_mixed``), and then swings with the seed; the per-kind
    figure stays inside each kind's own latencies. An arithmetic mean
    rather than a geometric one, so that millisecond kinds (PUT) whose
    relative jitter is large do not swing the figure."""
    n = sum(len(v) for v in by_kind.values())
    return sum(len(v) * percentile(v, pct) for v in by_kind.values() if v) / n


def per_second(samples, spans: dict[int, float], value=lambda s: 1) -> float:
    """Sum over clients of ``value`` per second of the client's recording
    time ``spans[client]`` (clients without samples add nothing)."""
    total: dict[int, float] = {}
    for s in samples:
        total[s["client"]] = total.get(s["client"], 0.0) + value(s)
    return sum(v / spans[c] for c, v in total.items())


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples rank strictly above the interpolated
    ``pct`` percentile."""
    return n - 1 - int((n - 1) * pct / 100.0 + 1e-9)


def select_tail(n: int, candidates=TAIL_CANDIDATES, min_beyond: int = MIN_BEYOND):
    """Highest candidate percentile leaving ``min_beyond`` samples above
    it, or None when even the lowest candidate does not."""
    for pct in candidates:
        if samples_beyond(n, pct) >= min_beyond:
            return pct
    return None
