"""Pure helpers of the benchmark: the percentile rule, the
transaction → covering-batch lag join and the rate ladder's stop rule."""

from __future__ import annotations

import ast
import bisect
import json
import math

# Highest percentile reported for a timing: the one with at least this
# many samples beyond it.
MIN_BEYOND = 10
_LEVELS = (99.9, 99.0, 95.0, 90.0)


def tail_level(n: int) -> float | None:
    """The highest of p99.9 / p99 / p95 / p90 that has at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None."""
    for q in _LEVELS:
        # rounded: (100 - 99.9) is a little under 0.1 in floating point
        if round(n * (100.0 - q) / 100.0, 6) >= MIN_BEYOND:
            return q
    return None


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile the sample supports."""
    level = tail_level(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50) if values else None,
        "tail_level": level,
        "tail": percentile(values, level) if level is not None else None,
    }


def stream_position(offset_json: str | dict | None) -> tuple[str, int]:
    """(file, pos) of a ``mysql_binlog`` stream offset as progress
    reports it; ordered like the log."""
    if offset_json is None:
        return ("", -1)
    o = offset_json
    if isinstance(o, str):
        try:
            o = json.loads(o)
        except json.JSONDecodeError:
            # the Python DataSource's offset reaches progress as a dict repr
            o = ast.literal_eval(o)
    return (o.get("file") or "", int(o.get("pos", -1)))


def covering_batches(
    txn_end: list[tuple[str, int]],
    batch_end: list[tuple[str, int]],
) -> list[int | None]:
    """Index of the FIRST batch (in batch order) whose end offset
    covers each transaction's end position, or None if no batch does."""
    # Positions only grow batch to batch, so a running maximum keeps
    # the list sorted for bisection even if a batch repeats an offset.
    ends, index = [], []
    hi = ("", -1)
    for i, pos in enumerate(batch_end):
        if pos > hi:
            hi = pos
            ends.append(pos)
            index.append(i)
    out: list[int | None] = []
    for end in txn_end:
        k = bisect.bisect_left(ends, end)
        out.append(index[k] if k < len(ends) else None)
    return out


def covering_lags(
    txn_end: list[tuple[str, int]],
    due: list[float],
    batches: list[tuple[tuple[str, int], float]],
) -> list[float | None]:
    """Lag of each transaction: from its due time to the return of the
    first batch that covers it (see ``covering_batches``).  ``batches``
    is ``[(end_position, merger_return_time), ...]`` in batch order; a
    transaction no batch covers gets None."""
    cover = covering_batches(txn_end, [pos for pos, _ in batches])
    return [None if b is None else batches[b][1] - d for b, d in zip(cover, due)]


def ladder_max(steps: list[dict], lag_limit_ms: float) -> float:
    """Highest offered rate of a ladder climbed in order whose tail lag
    stays within ``lag_limit_ms`` and left no backlog; the climb stops
    at the first step that fails.  Each step is ``{"rate": rows/s,
    "lag_tail_ms": float, "drained": bool}`` and may say
    ``"generator_ok": False`` when the generator could not hold the
    rate; 0.0 if the first step fails."""
    best = 0.0
    for s in steps:
        if not step_passes(s, lag_limit_ms):
            break
        best = float(s["rate"])
    return best


def step_passes(step: dict, lag_limit_ms: float) -> bool:
    return (bool(step["drained"]) and step.get("generator_ok", True)
            and step["lag_tail_ms"] <= lag_limit_ms)

